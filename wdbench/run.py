#!/usr/bin/env python3
"""Benchmark of the Wikidata ETL, the SurrealQL read surface and the
operator registry.

    python3 wdbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness with sbt (offline) and reuses the build while the sources are
unchanged. Each run generates its inputs from the seed, starts one JVM
running `wdbench.Harness` at local[<cores>], and checks every output.
The last line of stdout is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics, or with --trace 1 the per-layer
ones). The full run artifact (per-op counters, and in a traced run the
spans and the self-time table) goes to wdbench/target/artifacts/.

See NOTES.md for what each workload measures and why.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gendump  # noqa: E402
import stats  # noqa: E402
import surql  # noqa: E402

WORKLOADS = ("etl_json_bulk", "etl_bz2_filter", "surql_read", "registry_ops")
# Entities per dump. A warm filtered bz2 load costs about 2.5 s on 4
# cores whatever its size (about 20 Spark jobs: the filter's compile and
# anti-join, the tb-partitioned commit) plus about 0.27 ms per entity;
# at 10,000 entities the per-entity part is about half, and a run (set-up,
# the measured loop and the checks) still takes under a minute.
ETL_JSON_ENTITIES = 10000
ETL_BZ2_ENTITIES = 10000
SURQL_ENTITIES = 3000
# untimed loads of the dump before the loop: the first loads of a JVM
# pay for JIT and Spark's code generation (at 10,000 entities the first
# takes about 3x a warm one, the second about 2x; warming up on a smaller
# dump left the timed loads slower still). The first timed load is still
# about 1.2x a later one; with four or five timed loads the median
# ignores it
ETL_WARMUP_LOADS = 2
SURQL_WARMUP_CYCLES = 1
# a cycle of the read mix takes about 2.5 s warm; two or more keep the
# slower first cycle from deciding the median
SURQL_MIN_CYCLES = 2
# the registry's read-only input: the project's sf0.01 test tables
REGISTRY_TABLES = os.path.join(HERE, "data", "sf0.01")
# untimed count() passes after the set-up pass (which writes the results
# and is about 4x slower than a warm pass). Passes keep getting faster
# while the JIT compiles the planner's hot paths: with the JVM's default
# compile thresholds for about ten passes, with the lowered ones (HOT_JIT
# below) for about five. After two warm-up passes the timed passes still
# fall by 5-15%, which the median over the whole loop absorbs
REGISTRY_WARMUP_PASSES = 2
REGISTRY_QUERIES = {
    "t_textrank": "operators.TextAnalysis",
    "t_fuzzy_join2": "operators.Fuzzy",
    "g_pagerank": "operators.Graph",
    "d_ngram_jaccard": "operators.Dedup",
    "c_quality_model": "operators.Corpus",
    "s_cosine_topk": "operators.Similarity",
    "b16_view_media": "queries.Relational",
    "q1_agg": "queries.Relational",
}
# run in traced runs only: WordPiece's query costs about as much as the
# rest of a pass, which the run budget of the timed runs cannot carry
TRACED_REGISTRY_QUERIES = {"t_wordpiece_train": "operators.WordPiece"}
# timed passes of at least: four passes of eight queries give 32
# samples, so the tail always has ten samples above it and is a
# percentile, not the slowest sample. The median sits among the three
# queries of 0.35-0.55 s, whose single samples vary by 10-15% within a
# run: with three passes the median moved 15% between runs whose total
# query time agreed to 6%; with four to six passes it moved about as much
# as the total did
REGISTRY_MIN_PASSES = 4
# Spark task threads for the registry, at most. Its queries over these
# small tables kept about 0.4 of 4 cores busy on average, and on a
# 4-vCPU host they ran no slower at local[2] than at local[4] (median
# query 418-439 ms against 466-482 ms, medians of ten-run sets). Fewer
# threads leave fewer of them to wait on a vCPU the host has lent to
# another tenant: runs that lost 13-15% of their CPU time to steal ran
# 1.5-1.75x slower at local[4]
REGISTRY_CORES = 2
MODULES = ("operators.Dedup", "operators.Similarity", "operators.Graph",
           "operators.TextAnalysis", "operators.Corpus", "operators.Fuzzy",
           "operators.WordPiece", "queries.Relational")
HEAP = "3g"
# JIT compile thresholds at a tenth of the JVM's defaults. The registry's
# queries and the loads spend most of their time in Spark's planner on the
# driver, a large body of code the JIT reaches late: at the default
# thresholds a registry pass still got faster for about ten passes, and a
# run's figures depended on how far compilation had got when the timed
# loop began (further behind when the host was busy). The lowered
# thresholds move most of that into set-up.
HOT_JIT = "-XX:CompileThresholdScaling=0.1"
RUN_LIMIT_S = 170


def fail(msg, code=2):
    print("wdbench: " + msg, file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ build //

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Build with sbt unless the sources are unchanged since the last
    build; return (classpath, JVM options)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources not found under %s/src; run from a full checkout" % ROOT)
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(HERE, "target", "launch.sha256")
    fresh = os.path.exists(launch) and os.path.exists(stamp) and \
        open(stamp).read() == digest
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         "-Dsbt.repository.config=" + repos]
            env["SBT_OPTS"] = " ".join(opts)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=850)
        if r.returncode != 0 or not os.path.exists(launch):
            fail("build failed (sbt exit %d)" % r.returncode, 3)
        with open(stamp, "w") as f:
            f.write(digest)
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


# ----------------------------------------------------------- inputs //

def prepare(workload, seed, seconds, trace, work):
    """Generate the seeded inputs; return (harness config, expected)."""
    cfg = {"workload": workload, "seconds": seconds, "trace": trace,
           "cores": cores(), "work": work,
           "result": os.path.join(work, "result.json")}
    expected = {}
    if workload in ("etl_json_bulk", "etl_bz2_filter"):
        bz2 = workload == "etl_bz2_filter"
        ext = ".json.bz2" if bz2 else ".json"
        dump = os.path.join(work, "dump" + ext)
        truth = gendump.generate(seed, ETL_BZ2_ENTITIES if bz2 else ETL_JSON_ENTITIES, dump)
        cfg.update(dump=dump, format="bz2" if bz2 else "json",
                   filter_script=surql.TEST_FILTER if bz2 else None,
                   out_root=os.path.join(work, "out"), max_partition_bytes=None,
                   warmup_loads=ETL_WARMUP_LOADS,
                   # a traced run needs a traced and an untraced load
                   min_ops=2 if trace else 1)
        if bz2:
            # at least two splits per core; Spark's default would read
            # this small file as a single split
            cfg["max_partition_bytes"] = max(64 << 10, os.path.getsize(dump) // (2 * cores()) + 1)
        expected["truth"] = truth
        if trace:
            # the traced run also measures the read layers over its
            # unfiltered sink, which holds the whole dump
            expected["mix"] = surql.read_mix(truth, seed)
            cfg["queries"] = [{k: q[k] for k in ("name", "kind", "script", "parent")}
                              for q in expected["mix"]]
    elif workload == "surql_read":
        dump = os.path.join(work, "dump.json")
        truth = gendump.generate(seed, SURQL_ENTITIES, dump)
        mix = surql.read_mix(truth, seed)
        cfg.update(dump=dump, tables_dir=os.path.join(work, "wiki"),
                   queries=[{k: q[k] for k in ("name", "kind", "script", "parent")}
                            for q in mix],
                   warmup_cycles=SURQL_WARMUP_CYCLES, min_cycles=SURQL_MIN_CYCLES)
        expected.update(truth=truth, mix=mix)
    else:
        # The tables are fixed; the seed picks the query the cyclic order
        # starts at. A query's cost depends on the one before it (q1_agg
        # right after t_fuzzy_join2 took about 2x as long), and shuffled
        # orders moved a run's total by up to 20% between seeds.
        names = sorted({**REGISTRY_QUERIES, **TRACED_REGISTRY_QUERIES} if trace
                       else REGISTRY_QUERIES)
        k = seed % len(names)
        names = names[k:] + names[:k]
        cfg["cores"] = min(cores(), REGISTRY_CORES)
        cfg.update(tables_dir=REGISTRY_TABLES, queries=names,
                   warmup_passes=REGISTRY_WARMUP_PASSES,
                   results_dir=os.path.join(work, "results"),
                   min_passes=REGISTRY_MIN_PASSES)
    return cfg, expected


# ------------------------------------------------------------ checks //

def check_sink(truth, sink, filtered):
    """Does a loaded sink hold what the generator wrote?"""
    ents = dict(truth.entities)
    claims = truth.claims
    if filtered:
        ents["Entity"] -= truth.lacking_p1113
        claims -= truth.lacking_claims
    return (sink["entities"] == {k: v for k, v in ents.items() if v}
            and sink["claims_rows"] == sum(ents.values())
            and sink["claims"] == claims
            and sink["p1113_sum"] == truth.p1113_sum)


def failed_ops(workload, res, expected, cfg):
    """Ids of ops that errored or returned a wrong result, and details."""
    bad = set()
    notes = {}
    verdict = {}
    if workload == "registry_ops":
        import oracle  # duckdb and pandas: only this workload needs them
        verdict = oracle.check(cfg["tables_dir"], cfg["results_dir"], cfg["queries"])
        notes["oracle"] = verdict
    for op in res["ops"]:
        kind = op["kind"]
        if op["error"]:
            wrong = op["error"]
        elif kind == "load":
            sink = res["sinks"].get(op["id"])
            ok = sink is not None and check_sink(expected["truth"], sink,
                                                 workload == "etl_bz2_filter")
            wrong = None if ok else "sink mismatch: %s" % sink
        elif kind in surql.KINDS:
            q = expected["mix"][op["query"]]
            rows = op["observed"]["rows"]
            wrong = None if surql.matches(q["name"], q["expect"], rows) else \
                "%s: got %s want %s" % (q["name"], str(rows)[:200], str(q["expect"])[:200])
        else:
            v = verdict[kind]
            ok = v["ok"] and op["observed"]["count"] == v["rows"]
            wrong = None if ok else "oracle %s, count %s" % (v, op["observed"]["count"])
        if wrong:
            bad.add(op["id"])
            notes[op["id"]] = wrong
    return bad, notes


# ----------------------------------------------------------- metrics //

def group_sum(groups, op_id):
    """Counters of an op: its own job group plus its spans' groups."""
    total = {}
    for g, c in groups.items():
        if g == op_id or g.startswith(op_id + "/"):
            for k, v in c.items():
                total[k] = total.get(k, 0) + v
    return total


def table_rows(tables_dir):
    """Rows of the registry's input tables, from the parquet footers."""
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(tables_dir, name)).metadata.num_rows
               for name in sorted(os.listdir(tables_dir)) if name.endswith(".parquet"))


def end_to_end(workload, res, expected, cfg, t_start):
    """The end-to-end metrics. Records are a fixed count of the input:
    the dump's entities (ETL and surql_read) or the rows of the
    registry's tables, so the per-record metrics move only with time or
    bytes. For the ETL an operation is one load and its output the sink.
    For the query workloads the rate is records per second of query
    time, and the output is the sink of surql_read's set-up load, or the
    bytes registry queries write (their snapshots) in one pass."""
    ops = res["ops"]
    walls = [op["wall_s"] for op in ops]
    tail, _, _ = stats.tail(walls)
    if workload.startswith("etl_"):
        n = expected["truth"].total_entities
        eps = stats.median([n / w for w in walls])
        bpe = stats.median([res["sinks"][op["id"]]["bytes"] for op in ops]) / n
    elif workload == "surql_read":
        n = expected["truth"].total_entities
        eps = n * len(ops) / sum(walls)
        bpe = res["sink"]["bytes"] / n
    else:
        n = table_rows(cfg["tables_dir"])
        eps = n * len(ops) / sum(walls)
        passes = len(ops) / len(cfg["queries"])
        bpe = sum(group_sum(res["groups"], op["id"]).get("output_bytes", 0)
                  for op in ops) / passes / n
    return {
        "setup_s": (res["first_op_epoch_s"] - t_start, "s"),
        "etl_entities_per_s": (eps, "1/s"),
        "etl_out_bytes_per_entity": (bpe, "B"),
        "query_p50_ms": (stats.median(walls) * 1e3, "ms"),
        "query_tail_ms": (tail * 1e3, "ms"),
        "queries_per_s": (len(ops) / res["measure_wall_s"], "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
    }


SPARK = ("jobs", "stages", "tasks", "input_bytes", "input_records",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "executor_run_s",
         "executor_cpu_s", "jvm_gc_s")
INGEST = ("ingest.WikidataSource.self_s", "ingest.WikidataSource.input_bytes",
          "ingest.WikidataSource.input_splits", "ingest.WikidataSource.lines_in",
          "ingest.WikidataSource.entities_out", "ingest.WikidataSource.rejected_lines",
          "ingest.Transform.self_s", "ingest.Transform.claims_out",
          "ingest.Load.write_self_s", "ingest.Load.bytes_written",
          "ingest.Load.files_written", "ingest.Load.filter_self_s",
          "ingest.Load.filter_kept_ratio")
QUERY = ("query.SurrealQL.compile_ms", "query.SurrealQL.execute_ms",
         "query.Ops.mediaView_ms", "query.rows_examined_per_row_returned")
ETL_CHAIN = ("WikidataSource.read", "Transform.normalize", "Load.run.unfiltered", "Load.run")


def per_layer_names():
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    units = {"self_s": "s", "input_bytes": "B", "input_splits": "count",
             "lines_in": "count", "entities_out": "count", "rejected_lines": "count",
             "claims_out": "count", "write_self_s": "s", "bytes_written": "B",
             "files_written": "count", "filter_self_s": "s", "filter_kept_ratio": "ratio"}
    out = [(n, units[n.rsplit(".", 1)[1]]) for n in INGEST]
    out += [(n, "ratio" if n.endswith("returned") else "ms") for n in QUERY]
    out += [("query.%s_ms" % k, "ms") for k in surql.KINDS]
    for q in sorted({**REGISTRY_QUERIES, **TRACED_REGISTRY_QUERIES}):
        out += [("registry.%s.s" % q, "s"), ("registry.%s.jobs" % q, "count"),
                ("registry.%s.shuffle_bytes" % q, "B")]
    out += [("%s.s" % m, "s") for m in MODULES]
    out += [("registry.snapshot_bytes", "B")]
    out += [("spark." + k, "s" if k.endswith("_s") else "B" if k.endswith("bytes") else "count")
            for k in SPARK]
    out += [("spark.core_busy_ratio", "ratio"), ("trace.overhead_s", "s"),
            ("failed_ratio", "ratio"), ("query_tail.percentile", "%"),
            ("query_tail.samples", "count")]
    return out


def per_layer(workload, res, expected, cfg, attempted, failed):
    """Per-layer metrics of a traced run. A layer the workload does not
    exercise reports 0. The spark.*, overhead and tail metrics are over
    the workload's measured ops; the read mix a traced ETL run adds
    after its loads feeds only the query.* metrics."""
    m = {name: 0 for name, _ in per_layer_names()}
    groups = res["groups"]
    reads = [op for op in res["ops"] if op["kind"] in surql.KINDS]
    ops = [op for op in res["ops"] if op["kind"] == "load"] \
        if workload.startswith("etl_") else res["ops"]
    traced = [op for op in ops if op["traced"]]
    plain = [op for op in ops if not op["traced"]]
    by_op = {op["id"]: group_sum(groups, op["id"]) for op in res["ops"]}

    # spark.* as a per-operation mean, and how busy the cores were
    for k in SPARK:
        m["spark." + k] = sum(by_op[o["id"]].get(k, 0) for o in ops) / len(ops)
    m["spark.core_busy_ratio"] = sum(by_op[o["id"]].get("executor_run_s", 0) for o in ops) \
        / (res["measure_wall_s"] * cfg["cores"])

    # tracing overhead: traced minus untraced op time, per op kind
    diffs = []
    for kind in {op["kind"] for op in ops}:
        t = [op["wall_s"] for op in traced if op["kind"] == kind]
        u = [op["wall_s"] for op in plain if op["kind"] == kind]
        if t and u:
            diffs.append(stats.median(t) - stats.median(u))
    if diffs:
        m["trace.overhead_s"] = sum(diffs) / len(diffs)
    m["failed_ratio"] = failed / attempted
    _, pct, n = stats.tail([op["wall_s"] for op in ops])
    m["query_tail.percentile"], m["query_tail.samples"] = pct, n

    self_rows = []
    if workload.startswith("etl_"):
        truth = expected["truth"]
        selfs = {}
        for op in traced:
            d = {s["name"]: s["end_s"] - s["start_s"] for s in res["spans"] if s["op"] == op["id"]}
            for name, v in stats.self_times(d, ETL_CHAIN).items():
                selfs.setdefault(name, []).append(v)
        med = {k: stats.median(v) for k, v in selfs.items()}
        lay = res["layers"]
        sinks = [res["sinks"][op["id"]] for op in traced]
        m["ingest.WikidataSource.self_s"] = med.get("WikidataSource.read", 0)
        m["ingest.WikidataSource.input_bytes"] = lay["input_bytes"]
        m["ingest.WikidataSource.input_splits"] = stats.median(
            [groups.get(op["id"] + "/WikidataSource.read", {}).get("tasks", 0) for op in traced])
        m["ingest.WikidataSource.lines_in"] = lay["lines_in"]
        m["ingest.WikidataSource.entities_out"] = lay["entities_out"]
        m["ingest.WikidataSource.rejected_lines"] = lay["lines_in"] - lay["entities_out"]
        m["ingest.Transform.self_s"] = med.get("Transform.normalize", 0)
        m["ingest.Transform.claims_out"] = lay["claims_out"]
        if workload == "etl_bz2_filter":
            m["ingest.Load.write_self_s"] = med.get("Load.run.unfiltered", 0)
            m["ingest.Load.filter_self_s"] = med.get("Load.run", 0)
            m["ingest.Load.filter_kept_ratio"] = sum(sinks[0]["entities"].values()) \
                / truth.total_entities
        else:
            m["ingest.Load.write_self_s"] = med.get("Load.run", 0)
        m["ingest.Load.bytes_written"] = stats.median([s["bytes"] for s in sinks])
        m["ingest.Load.files_written"] = stats.median([s["files"] for s in sinks])
        self_rows = [(n, m[n]) for n in INGEST if n.endswith("self_s")]
    if reads:
        ok = [op for op in reads if op["traced"] and not op["error"]]
        comp = [op["observed"]["compile_s"] for op in ok if op["kind"] != "media_ops"]
        execute = [op["observed"]["execute_s"] for op in ok]
        media = [op["observed"]["compile_s"] + op["observed"]["execute_s"]
                 for op in ok if op["kind"] == "media_ops"]
        m["query.SurrealQL.compile_ms"] = stats.median(comp) * 1e3
        m["query.SurrealQL.execute_ms"] = stats.median(execute) * 1e3
        if media:
            m["query.Ops.mediaView_ms"] = stats.median(media) * 1e3
        rows = sum(max(1, len(op["observed"]["rows"])) for op in ok)
        m["query.rows_examined_per_row_returned"] = sum(
            by_op[op["id"]].get("input_records", 0) for op in ok) / rows
        for k in surql.KINDS:
            walls = [op["wall_s"] for op in reads if op["kind"] == k and not op["error"]]
            if walls:
                m["query.%s_ms" % k] = stats.median(walls) * 1e3
        self_rows += [("SurrealQL.run", stats.median(comp)), ("execute", stats.median(execute))]
    if workload == "registry_ops":
        snap = 0
        modules = {**REGISTRY_QUERIES, **TRACED_REGISTRY_QUERIES}
        for q in cfg["queries"]:
            q_ops = [op for op in ops if op["kind"] == q]
            base = [op for op in q_ops if not op["traced"]] or q_ops
            s = stats.median([op["wall_s"] for op in base])
            m["registry.%s.s" % q] = s
            m["registry.%s.jobs" % q] = stats.median([by_op[o["id"]].get("jobs", 0) for o in q_ops])
            m["registry.%s.shuffle_bytes" % q] = stats.median(
                [by_op[o["id"]].get("shuffle_write_bytes", 0) for o in q_ops])
            snap += stats.median([by_op[o["id"]].get("output_bytes", 0) for o in q_ops])
            m["%s.s" % modules[q]] += s
        m["registry.snapshot_bytes"] = snap
        for name in ("build", "count"):
            v = [s["end_s"] - s["start_s"] for s in res["spans"] if s["name"] == name]
            if v:
                self_rows.append((name, stats.median(v)))
    return m, self_rows


# -------------------------------------------------------------- main //

def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    # on SIGTERM unwind normally: subprocess.run kills and reaps the
    # harness JVM, and the run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath, jvm_opts = build()
    t_start = time.time()
    work = os.path.join(HERE, "target", "run", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cfg, expected = prepare(a.workload, a.seed, a.seconds, a.trace, work)
        cfg["jvm_start_epoch_s"] = time.time()
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        # temp files stay in the run directory; no hsperfdata file in /tmp
        # the heap is fixed and touched at start, so peak_rss_mb does not
        # follow how far G1 happens to spread over the heap in a run
        cmd = (["java"] + jvm_opts + ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
                                      HOT_JIT,
                                      "-XX:-UsePerfData",
                                      "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                      "-cp", classpath, "wdbench.Harness", cfg_path])
        budget = RUN_LIMIT_S - (time.time() - t_start)
        try:
            r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                               stdin=subprocess.DEVNULL, timeout=budget)
        except subprocess.TimeoutExpired:
            fail("harness did not finish within %.0f s" % budget, 4)
        if r.returncode != 0:
            fail("harness exited with %d" % r.returncode, 4)
        with open(cfg["result"]) as f:
            res = json.load(f)
        bad, notes = failed_ops(a.workload, res, expected, cfg)
        attempted = len(res["ops"])
        failed = len(bad)
        if a.trace:
            metrics, self_rows = per_layer(a.workload, res, expected, cfg, attempted, failed)
            units = dict(per_layer_names())
            out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        else:
            self_rows = []
            out = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end(a.workload, res, expected, cfg, t_start).items()}
        artifact_dir = os.path.join(HERE, "target", "artifacts")
        os.makedirs(artifact_dir, exist_ok=True)
        stem = os.path.join(artifact_dir, "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
        with open(stem + ".json", "w") as f:
            json.dump({"config": {k: v for k, v in cfg.items() if k != "queries"},
                       "failures": notes, "metrics": out,
                       **{k: v for k, v in res.items() if k != "spans"}}, f, indent=1,
                      default=str)
        if a.trace:
            with open(stem + "-spans.json", "w") as f:
                json.dump(res["spans"], f)
            table = "\n".join("%-32s %10.4f" % (n, s) for n, s in self_rows)
            with open(stem + "-self.txt", "w") as f:
                f.write("%-32s %10s\n%s\n" % ("layer", "self_s", table))
            print("self time by layer:\n" + table, file=sys.stderr)
        for k, v in list(notes.items())[:5]:
            if k != "oracle":
                print("wdbench: failed %s: %s" % (k, v), file=sys.stderr)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
