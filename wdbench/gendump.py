"""Seeded synthetic Wikidata dump and the answers the benchmark checks.

The dump has the shape of the real one: a top-level JSON array with one
entity per line and trailing commas. Items, properties and lexemes are
mixed in seeded shares. Items carry P31, P1113 (number of episodes,
absent for a seeded share of items), P179/P527 series links, titles,
URLs, dates and an external id. Statements carry 0-2 qualifiers. Labels
come in several languages, and some items have no English label (their
label loads as ""). A known number of malformed lines and of lines whose
id is not Q/P/L are mixed in; the loader must reject exactly those.

Every entity also carries a random external-id payload, so that the dump
compresses with bz2 at about the ratio of the real dump instead of the
70x+ of purely templated text.

`generate` writes the dump and returns a `Truth` with every count and
value the checks compare against.
"""
import bz2
import os
import random
import string
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

LANGS = ("de", "fr", "ja", "es", "zh", "it")
GENRES = ("anime season", "television series", "film", "novel",
          "album", "video game")
WORDS = ("black", "clover", "banana", "fish", "river", "stone", "night",
         "garden", "silver", "ocean", "winter", "castle", "dragon", "echo",
         "lantern", "meadow", "orbit", "quartz", "raven", "summit")
PROP_DATATYPES = ("quantity", "wikibase-item", "string", "external-id",
                  "time", "url", "monolingualtext")
PAYLOAD_CHARS = string.ascii_lowercase + string.digits
# Entities per bz2 stream. Real dumps are multistream, which is what
# lets the reader split a single file across cores.
BZ2_STREAM_ENTITIES = 400


@dataclass
class Item:
    qid: int
    label: str          # "" when the item has no English label
    description: str
    eps: float = None   # P1113 amount, None when the item lacks P1113
    parent: int = None  # P179 target qid
    children: list = field(default_factory=list)  # P527 target qids


@dataclass
class Truth:
    entities: dict      # tb -> entity count
    lines: int          # entity lines (valid or not), brackets excluded
    rejected: int       # malformed + non-Q/P/L lines
    claims: int         # flattened claims: per statement 1 + qualifiers
    p1113_sum: float
    lacking_p1113: int  # items with no P1113 claim
    lacking_claims: int  # flattened claims of those items
    items: list         # Item per Entity row, in id order

    @property
    def total_entities(self):
        return sum(self.entities.values())

    def survivors(self):
        """Entity rows left by the delete-lacking-P1113 filter."""
        return self.total_entities - self.lacking_p1113


def _lang_value(lang, value):
    return '{"language":"%s","value":"%s"}' % (lang, value)


def _snak(pid, datatype, value_json, vtype):
    return ('{"snaktype":"value","property":"P%d","datavalue":{"value":%s,'
            '"type":"%s"},"datatype":"%s"}' % (pid, value_json, vtype, datatype))


def _snak_value_item(qid):
    return '{"entity-type":"item","numeric-id":%d,"id":"Q%d"}' % (qid, qid)


class _Writer:
    """Builds one entity's claims and counts its flattened claims. Each
    statement carries a GUID and, for about half, a reference hash, as
    in the real dump; the loader ignores both."""

    def __init__(self, rng, eid):
        self.rng = rng
        self.eid = eid
        self.claims = 0

    def statements(self, pid, snaks, qualify=True):
        out = []
        for s in snaks:
            quals = ""
            n_q = self.rng.randrange(3) if qualify else 0
            if n_q:
                qs = ",".join(_snak(1545, "string", '"%d"' % self.rng.randrange(100),
                                    "string") for _ in range(n_q))
                quals = ',"qualifiers":{"P1545":[%s]}' % qs
            g = "%032X" % self.rng.getrandbits(128)
            refs = ""
            if self.rng.random() < 0.5:
                refs = ',"references":[{"hash":"%040x"}]' % self.rng.getrandbits(160)
            out.append('{"mainsnak":%s,"type":"statement"%s,"id":"%s$%s-%s-%s-%s-%s"'
                       ',"rank":"normal"%s}'
                       % (s, quals, self.eid, g[:8], g[8:12], g[12:16],
                          g[16:20], g[20:], refs))
            self.claims += 1 + n_q
        return '"P%d":[%s]' % (pid, ",".join(out))


def _payload(rng, n):
    return "".join(rng.choice(PAYLOAD_CHARS) for _ in range(n))


def _entities(rng, n):
    """One dump line per valid entity, and the Truth about them (the bad
    lines and the line counts are added by `generate`)."""
    # narrow seeded ranges: each seed is a different dump, while the
    # sizes the metrics divide by stay comparable across seeds
    item_share = rng.uniform(0.85, 0.87)
    prop_share = rng.uniform(0.05, 0.06)
    lack_share = rng.uniform(0.25, 0.28)
    en_share = rng.uniform(0.93, 0.95)
    n_items = int(n * item_share)
    n_props = int(n * prop_share)
    n_lex = n - n_items - n_props

    # roles first, so a series can list the seasons that point at it
    qids = [1000 + 3 * i + rng.randrange(3) for i in range(n_items)]
    items = []
    series = []
    for i, q in enumerate(qids):
        label = "%s %s %d" % (rng.choice(WORDS), rng.choice(WORDS), q) \
            if rng.random() < en_share else ""
        it = Item(q, label, rng.choice(GENRES))
        if rng.random() >= lack_share:
            it.eps = float(rng.randrange(1, 1000))
        if series and rng.random() < 0.45:
            parent = rng.choice(series)
            it.parent = parent.qid
            parent.children.append(q)
        elif rng.random() < 0.15:
            series.append(it)
        items.append(it)

    claims = 0
    lacking_claims = 0
    p1113_sum = 0.0
    kinds = ["Entity"] * n_items + ["Property"] * n_props + ["Lexeme"] * n_lex
    rng.shuffle(kinds)
    item_iter = iter(items)
    lines = []
    pid = 100
    lid = 1
    for kind in kinds:
        if kind == "Entity":
            it = next(item_iter)
            w = _Writer(rng, "Q%d" % it.qid)
            labels = [] if not it.label else ['"en":' + _lang_value("en", it.label)]
            for lang in rng.sample(LANGS, rng.randrange(len(LANGS))):
                labels.append('"%s":%s' % (lang, _lang_value(
                    lang, "%s %d" % (rng.choice(WORDS), it.qid))))
            st = [w.statements(31, [_snak(31, "wikibase-item",
                                          _snak_value_item(rng.randrange(1, 500)),
                                          "wikibase-entityid")])]
            if it.eps is not None:
                p1113_sum += it.eps
                st.append(w.statements(1113, [_snak(
                    1113, "quantity", '{"amount":"+%d","unit":"1"}' % it.eps,
                    "quantity")]))
            if it.parent is not None:
                st.append(w.statements(179, [_snak(
                    179, "wikibase-item", _snak_value_item(it.parent),
                    "wikibase-entityid")], qualify=False))
            if it.children:
                st.append(w.statements(527, [_snak(
                    527, "wikibase-item", _snak_value_item(c), "wikibase-entityid")
                    for c in it.children], qualify=False))
            st.append(w.statements(1476, [_snak(
                1476, "monolingualtext",
                '{"text":"%s","language":"en"}' % _payload(rng, 12),
                "monolingualtext")]))
            st.append(w.statements(856, [_snak(
                856, "url", '"https://example.org/%s"' % _payload(rng, 10),
                "string")]))
            st.append(w.statements(580, [_snak(
                580, "time",
                '{"time":"+%04d-%02d-01T00:00:00Z","timezone":0,"before":0,'
                '"after":0,"precision":11,"calendarmodel":'
                '"http://www.wikidata.org/entity/Q1985727"}'
                % (rng.randrange(1950, 2025), rng.randrange(1, 13)), "time")]))
            st.append(w.statements(646, [_snak(
                646, "external-id", '"/g/%s"' % _payload(rng, 24), "string")]))
            line = ('{"type":"item","id":"Q%d","labels":{%s},"descriptions":'
                    '{"en":%s},"claims":{%s}}'
                    % (it.qid, ",".join(labels),
                       _lang_value("en", it.description), ",".join(st)))
            if it.eps is None:
                lacking_claims += w.claims
        elif kind == "Property":
            pid += 1 + rng.randrange(3)
            w = _Writer(rng, "P%d" % pid)
            st = [w.statements(31, [_snak(31, "wikibase-item",
                                          _snak_value_item(rng.randrange(1, 500)),
                                          "wikibase-entityid")])]
            line = ('{"type":"property","id":"P%d","datatype":"%s","labels":'
                    '{"en":%s},"descriptions":{"en":%s},"claims":{%s}}'
                    % (pid, rng.choice(PROP_DATATYPES),
                       _lang_value("en", "property %d" % pid),
                       _lang_value("en", _payload(rng, 16)), ",".join(st)))
        else:
            lid += 1 + rng.randrange(3)
            w = _Writer(rng, "L%d" % lid)
            st = [w.statements(5137, [_snak(
                5137, "wikibase-item", _snak_value_item(rng.randrange(1, 500)),
                "wikibase-entityid")])]
            line = ('{"type":"lexeme","id":"L%d","lemmas":{"en":%s},'
                    '"claims":{%s}}'
                    % (lid, _lang_value("en", "%s%d" % (rng.choice(WORDS), lid)),
                       ",".join(st)))
        claims += w.claims
        lines.append(line)

    return lines, Truth(entities={"Entity": n_items, "Property": n_props,
                           "Lexeme": n_lex},
                 lines=0, rejected=0, claims=claims, p1113_sum=p1113_sum,
                 lacking_p1113=sum(1 for it in items if it.eps is None),
                 lacking_claims=lacking_claims, items=items)


def _bad_lines(rng, n_malformed, n_foreign):
    bad = []
    for i in range(n_malformed):
        # truncated object: does not parse at all
        bad.append('{"type":"item","id":"Q%d","labels":{"en":{"language":"en"'
                   % (900000000 + i))
    for i in range(n_foreign):
        # parses, but a form id is outside Q/P/L and must be skipped
        bad.append('{"type":"form","id":"L%d-F1","labels":{},"claims":{}}' % (i + 1))
    return bad


def generate(seed, n, path):
    """Write a dump of n valid entities to `path` (plain JSON, or a
    multistream bz2 when the path ends in .bz2) and return its Truth."""
    rng = random.Random(seed)
    lines, truth = _entities(rng, n)
    n_malformed = 1 + rng.randrange(max(2, n // 500))
    n_foreign = 1 + rng.randrange(max(2, n // 1000))
    for b in _bad_lines(rng, n_malformed, n_foreign):
        lines.insert(rng.randrange(len(lines) + 1), b)
    truth.lines = len(lines)
    truth.rejected = n_malformed + n_foreign

    body = [l + ("," if i < len(lines) - 1 else "") for i, l in enumerate(lines)]
    text_lines = ["["] + body + ["]"]
    if path.endswith(".bz2"):
        chunks = ["\n".join(text_lines[i:i + BZ2_STREAM_ENTITIES]) + "\n"
                  for i in range(0, len(text_lines), BZ2_STREAM_ENTITIES)]
        # bz2.compress releases the GIL, so threads compress in parallel
        with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
            streams = list(pool.map(lambda c: bz2.compress(c.encode("utf-8"), 9),
                                    chunks))
        with open(path, "wb") as f:
            for st in streams:
                f.write(st)
    else:
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(text_lines) + "\n")
    return truth
