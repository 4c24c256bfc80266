"""The SurrealQL scripts the benchmark runs, and their expected answers.

`TEST_FILTER` restates the reference's `test_filter.surql`: delete every
Entity that has no P1113 (number of episodes) claim, with its Claims
row. `MEDIA_DDL` restates the Media view of the reference's "Useful
queries" notes. `read_mix` builds the seeded query list of `surql_read`
from a dump's Truth; each entry carries the answer the generator knows.
"""
import random

EPS = ("claims.claims[where id = Property:1113][0]"
       ".value.ClaimValueData.Quantity.amount")
LACKS_P1113 = "claims.claims[where id = Property:1113].value.Thing == []"

TEST_FILTER = """# Delete every Entity lacking P1113 (number of episodes), and its claims
let $entity = select id from Entity where %s;
let $claims = select claims from Entity where %s;
delete $claims;
delete $entity;
""" % (LACKS_P1113, LACKS_P1113)

MEDIA_DDL = """DEFINE TABLE Media TYPE NORMAL AS
SELECT
*,
# Number of episodes
(claims.claims[WHERE id = Property:1113].value.ClaimValueData.Quantity.amount)[0] AS episodes,
# Part of the series (parent)
(claims.claims[WHERE id = Property:179].value.Thing)[0] AS parent,
# Has part(s) (children)
claims.claims[WHERE id = Property:527].value.Thing AS children
FROM Entity;
"""

KINDS = ("episodes", "parts", "media_ddl", "media_ops", "group_all",
         "group_by", "in_sub", "not_in_sub", "order_limit")


def _episodes(it):
    return {"kind": "script",
            "script": ('let $number_of_episodes = (select %s as number_of_episodes '
                       'from Entity where label = "%s")[0].number_of_episodes;\n'
                       'return $number_of_episodes;' % (EPS, it.label)),
            "expect": [[it.eps]]}


def _parts(it):
    return {"kind": "script",
            "script": ('let $parts = (select claims.claims[where id = Property:527]'
                       '.value.Thing as parts from Entity where label = "%s")[0].parts;\n'
                       'return $parts;' % it.label),
            "expect": sorted(it.children)}


def _seasons(series, by_qid, kind):
    eps = [by_qid[c].eps for c in series.children if by_qid[c].eps is not None]
    return {"kind": kind, "script": MEDIA_DDL if kind == "media_ddl" else None,
            "parent": series.qid,
            "expect": [[len(series.children), sum(eps) if eps else None]]}


def _group_all(items, t):
    sel = [it.eps for it in items if it.eps is not None and it.eps > t]
    return {"kind": "script",
            "script": ("SELECT count() AS n, math::sum(%s) AS total, math::max(%s) AS hi "
                       "FROM Entity WHERE %s > %d GROUP ALL;" % (EPS, EPS, EPS, t)),
            "expect": [[len(sel), sum(sel), max(sel)]]}


def _group_by(items, t):
    groups = {}
    for it in items:
        if it.eps is not None and it.eps > t:
            n, s = groups.get(it.description, (0, 0.0))
            groups[it.description] = (n + 1, s + it.eps)
    return {"kind": "script",
            "script": ("SELECT description, count() AS n, math::sum(%s) AS total "
                       "FROM Entity WHERE %s > %d GROUP BY description "
                       "ORDER BY description;" % (EPS, EPS, t)),
            "expect": [[d, n, s] for d, (n, s) in sorted(groups.items())]}


def _in_sub(items, t, negate):
    labels = {it.label for it in items if it.eps is not None and it.eps > t}
    if negate:
        n = sum(1 for it in items if it.eps is not None and it.label not in labels)
        cond = ("label NOT IN (select label from Entity where %s > %d) "
                "AND claims.claims[where id = Property:1113] != []" % (EPS, t))
    else:
        n = sum(1 for it in items if it.label in labels)
        cond = "label IN (select label from Entity where %s > %d)" % (EPS, t)
    return {"kind": "script",
            "script": "return count(select label from Entity where %s);" % cond,
            "expect": [[n]]}


def _order_limit(items, t, k):
    top = sorted((it.eps for it in items if it.eps is not None and it.eps > t),
                 reverse=True)[:k]
    return {"kind": "script",
            "script": ("select label, %s AS eps from Entity where %s > %d "
                       "ORDER BY eps DESC LIMIT %d;" % (EPS, EPS, t, k)),
            "expect": top}


def read_mix(truth, seed):
    """The seeded query list: one query of each kind in KINDS, in a
    seeded order. Each entry is {"name", "kind", "script", "parent",
    "expect"}."""
    rng = random.Random(seed * 7919 + 17)
    items = truth.items
    labeled = [it for it in items if it.label and it.eps is not None]
    series = [it for it in items if it.children]
    labeled_series = [it for it in series if it.label]
    by_qid = {it.qid: it for it in items}
    out = []
    for name in KINDS:
        t = rng.randrange(100, 900)
        if name == "episodes":
            q = _episodes(rng.choice(labeled))
        elif name == "parts":
            q = _parts(rng.choice(labeled_series))
        elif name in ("media_ddl", "media_ops"):
            q = _seasons(rng.choice(series), by_qid, name)
        elif name == "group_all":
            q = _group_all(items, t)
        elif name == "group_by":
            q = _group_by(items, t)
        elif name in ("in_sub", "not_in_sub"):
            q = _in_sub(items, t, name == "not_in_sub")
        else:
            q = _order_limit(items, t, 5)
        q["name"] = name
        q.setdefault("parent", None)
        out.append(q)
    rng.shuffle(out)
    return out


def answer(name, rows):
    """Reduce a query's returned rows to the form `expect` holds."""
    if name == "parts":
        # one row holding the array of Thing links [tb, id]
        return sorted(t[1] for t in rows[0][0] if t is not None)
    if name == "order_limit":
        return [r[1] for r in rows]
    return rows


def matches(name, expect, rows):
    try:
        return answer(name, rows) == expect
    except (IndexError, TypeError):
        return False
