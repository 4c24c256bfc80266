"""Tests of the benchmark's own code: the seeded dump generator and its
expected answers, the tail-percentile selection, self time by
difference, and the fixed record counts the rates divide by.

    python3 -m unittest discover -s wdbench/tests
"""
import bz2
import json
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gendump  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import surql  # noqa: E402


def _read(path):
    if path.endswith(".bz2"):
        with bz2.open(path, "rt", encoding="utf-8") as f:
            return f.read()
    with open(path, encoding="utf-8") as f:
        return f.read()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.dir.cleanup()

    def path(self, name):
        return os.path.join(self.dir.name, name)

    def test_same_seed_same_bytes(self):
        a = gendump.generate(11, 400, self.path("a.json"))
        b = gendump.generate(11, 400, self.path("b.json"))
        c = gendump.generate(12, 400, self.path("c.json"))
        self.assertEqual(_read(self.path("a.json")), _read(self.path("b.json")))
        self.assertNotEqual(_read(self.path("a.json")), _read(self.path("c.json")))
        self.assertEqual(a.p1113_sum, b.p1113_sum)

    def test_bz2_holds_the_same_dump_in_several_streams(self):
        gendump.generate(5, 1000, self.path("d.json"))
        gendump.generate(5, 1000, self.path("d.json.bz2"))
        self.assertEqual(_read(self.path("d.json")), _read(self.path("d.json.bz2")))
        with open(self.path("d.json.bz2"), "rb") as f:
            self.assertGreater(f.read().count(b"BZh9"), 1)

    def test_truth_matches_an_independent_parse(self):
        truth = gendump.generate(3, 600, self.path("t.json"))
        lines = _read(self.path("t.json")).splitlines()
        self.assertEqual((lines[0], lines[-1]), ("[", "]"))
        body = [l.rstrip(",") for l in lines[1:-1]]
        self.assertEqual(len(body), truth.lines)

        entities = {"Entity": 0, "Property": 0, "Lexeme": 0}
        tb = {"Q": "Entity", "P": "Property", "L": "Lexeme"}
        rejected = claims = lacking = lacking_claims = 0
        p1113 = 0.0
        parents = {}
        children = {}
        for line in body:
            try:
                e = json.loads(line)
            except ValueError:
                rejected += 1
                continue
            if not re.fullmatch(r"[QPL][0-9]+", e["id"]):
                rejected += 1
                continue
            entities[tb[e["id"][0]]] += 1
            n = sum(1 + sum(len(q) for q in st.get("qualifiers", {}).values())
                    for sts in e["claims"].values() for st in sts)
            claims += n
            if e["id"][0] != "Q":
                continue
            if "P1113" in e["claims"]:
                p1113 += float(e["claims"]["P1113"][0]["mainsnak"]["datavalue"]
                               ["value"]["amount"])
            else:
                lacking += 1
                lacking_claims += n
            qid = int(e["id"][1:])
            for st in e["claims"].get("P179", []):
                parents[qid] = st["mainsnak"]["datavalue"]["value"]["numeric-id"]
            children[qid] = [st["mainsnak"]["datavalue"]["value"]["numeric-id"]
                             for st in e["claims"].get("P527", [])]

        self.assertEqual(entities, truth.entities)
        self.assertEqual(rejected, truth.rejected)
        self.assertGreater(rejected, 0)
        self.assertEqual(claims, truth.claims)
        self.assertEqual(p1113, truth.p1113_sum)
        self.assertEqual(lacking, truth.lacking_p1113)
        self.assertEqual(lacking_claims, truth.lacking_claims)
        self.assertEqual(truth.survivors(), truth.total_entities - lacking)
        for it in truth.items:
            self.assertEqual(parents.get(it.qid), it.parent)
            self.assertEqual(children[it.qid], it.children)

    def test_read_mix_answers(self):
        truth = gendump.generate(4, 2000, self.path("m.json"))
        mix = surql.read_mix(truth, 4)
        self.assertEqual(sorted(q["name"] for q in mix), sorted(surql.KINDS))
        by_qid = {it.qid: it for it in truth.items}
        for q in mix:
            if q["name"] == "episodes":
                label = re.search(r'label = "([^"]+)"', q["script"]).group(1)
                it = next(i for i in truth.items if i.label == label)
                self.assertEqual(q["expect"], [[it.eps]])
            if q["name"] in ("media_ddl", "media_ops"):
                kids = [i for i in truth.items if i.parent == q["parent"]]
                self.assertEqual(q["expect"][0][0], len(kids))
                self.assertEqual(sorted(by_qid[q["parent"]].children),
                                 sorted(i.qid for i in kids))
        # Things come back as [tb, id] pairs and compare as sorted ids
        self.assertTrue(surql.matches("parts", [3, 7],
                                      [[[["Entity", 7], ["Entity", 3]]]]))
        self.assertFalse(surql.matches("parts", [3], []))


class StatsTest(unittest.TestCase):

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_tail_keeps_ten_samples_beyond(self):
        value, pct, n = stats.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        value, pct, n = stats.tail(list(range(1000, 0, -1)))
        self.assertEqual((value, pct, n), (990, 99.0, 1000))
        self.assertEqual(sum(1 for x in range(1, 1001) if x > value), 10)

    def test_tail_of_few_samples_is_the_slowest(self):
        self.assertEqual(stats.tail([5, 1, 3]), (5, 100.0, 3))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0, 10))
        # twenty samples: position 10 would sit at the median
        self.assertEqual(stats.tail(list(range(20)))[:2], (19, 100.0))
        for n in range(1, 60):
            self.assertGreater(stats.tail(list(range(n)))[0] + 1e-9,
                               stats.median(list(range(n))))
        # 21 samples: position 11 is the median itself
        self.assertEqual(stats.tail(list(range(21)))[:2], (20, 100.0))
        # from 22 samples on, exactly ten lie above the tail
        self.assertEqual(stats.tail(list(range(22)))[:2], (11, 100 * 12 / 22))
        self.assertEqual(stats.tail(list(range(30)))[:2], (19, 100 * 20 / 30))

    def test_self_time_by_difference(self):
        d = {"WikidataSource.read": 1.0, "Transform.normalize": 2.5, "Load.run": 4.0}
        self.assertEqual(stats.self_times(d, ("WikidataSource.read", "Transform.normalize",
                                              "Load.run.unfiltered", "Load.run")),
                         {"WikidataSource.read": 1.0, "Transform.normalize": 1.5,
                          "Load.run": 1.5})
        d["Load.run.unfiltered"] = 3.0
        self.assertEqual(stats.self_times(d, ("WikidataSource.read", "Transform.normalize",
                                              "Load.run.unfiltered", "Load.run"))["Load.run"],
                         1.0)


class MetricsTest(unittest.TestCase):

    def test_registry_rates_divide_by_the_fixed_table_rows(self):
        rows = run.table_rows(run.REGISTRY_TABLES)
        self.assertGreater(rows, 60000)
        cfg = {"tables_dir": run.REGISTRY_TABLES, "queries": ["a", "b"]}

        def result(records):
            # the scans' record counts must not move the rates: a change
            # that prunes a scan reads fewer records in the same time
            ops = [{"id": "op-%d" % i, "kind": "ab"[i % 2], "wall_s": w}
                   for i, w in enumerate((0.5, 1.5, 0.5, 1.5))]
            groups = {op["id"]: {"input_records": records, "output_bytes": 100}
                      for op in ops}
            return {"ops": ops, "groups": groups, "measure_wall_s": 4.0,
                    "first_op_epoch_s": 10.0, "peak_rss_mb": 1.0}

        for records in (10, 10 ** 6):
            m = run.end_to_end("registry_ops", result(records), {}, cfg, 0.0)
            self.assertAlmostEqual(m["etl_entities_per_s"][0], rows * 4 / 4.0)
            self.assertAlmostEqual(m["etl_out_bytes_per_entity"][0], 200 / rows)
            self.assertEqual(m["queries_per_s"][0], 1.0)


if __name__ == "__main__":
    unittest.main()
