"""Benchmark: one named workload, in a fresh process, from outside the program.

    python3 perfbench/run.py --workload tpch_10x --seed 1 --seconds 8 --trace 0

Each run generates its corpus from ``--seed`` into a run directory of its
own (artifact index, temp, Spark local and warehouse dirs included),
starts one session with ``SPARK_GRAFT_CPUS`` set to the host's core
count, and runs the workload's operations (registered queries, plus the
benchmark's ``Node | Pipeline`` program on ``tpch_10x``) one at a time,
in a fixed order, in whole passes:

1. one cold pass on empty artifact, temp and table dirs;
2. three unmeasured warm passes (JIT and cache warm-up);
3. measured warm passes until ``--seconds`` have elapsed, and at least two.

Every operation's result is fingerprinted inside Spark (the timed sink
action) and compared with its DuckDB twin afterwards; property checks
that use no twin run last. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(which also writes per-operation rows to ``perfbench/out/``). The run
directory is deleted and every process the run started has ended
before the line is printed. See README.md for the workloads, metrics
and reference figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402  (after the path insert)

WARM_UP_PASSES = 3
MIN_MEASURED_PASSES = 2  # the fastest of two passes sheds a burst of steal
PIPELINE = "pipeline_program"
SF = 0.01  # scale factor of the corpus generated from the seed
STREAM_INGEST = "q_stream_table_ingest"  # must stream and store every events row


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    copies: int = 1  # >1: queries read the key-remapped copies-x corpus
    pipeline: bool = False


WORKLOADS = {
    # Spark execution (scans, joins, shuffles, windows) does the work
    "tpch_10x": Workload(
        queries=(
            "q_pricing_summary", "q_join_multiway", "q_win_topk_per_group", "q_join_theta_range",
        ),
        copies=10,
        pipeline=True,
    ),
    # per-query fixed floor, artifact builds, the streaming runner and
    # table-format commits do the work
    "llm_ingest": Workload(
        queries=(
            "q_dedup_ngram_jaccard", "q_text_quality", "q_sim_topk_bruteforce", "q_graph_pagerank",
            STREAM_INGEST,
        ),
    ),
}


def _isolate(run_dir: str, trace: bool) -> dict[str, str]:
    """Point every place the program keeps state at the run's own empty
    directories, before pyspark is imported."""
    d = {k: os.path.join(run_dir, k) for k in ("tmp", "index", "local", "warehouse", "corpus", "events")}
    for p in d.values():
        os.makedirs(p)
    os.environ.update(
        TMPDIR=d["tmp"],
        SPARK_GRAFT_INDEX_DIR=d["index"],
        SPARK_LOCAL_DIRS=d["local"],
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={d['tmp']} -XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.sql.warehouse.dir": d["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + d["events"],
            "spark.eventLog.compress": "false",
        })
    d["conf"] = conf
    return d


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for every
    process this one started to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    for pid in host.descendants():
        try:
            os.kill(pid, 15)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    while host.descendants() and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


class Runner:
    def __init__(self, spark, specs, wl: Workload, sf_dir: str, seed: int, layers):
        from perfbench import program

        self.spark, self.specs, self.wl, self.sf_dir, self.layers = spark, specs, wl, sf_dir, layers
        # a fixed order: the order of first calls shapes the JIT's
        # profiles, and a seeded order moved warm passes by up to 35%
        self.ops = list(wl.queries) + ([PIPELINE] if wl.pipeline else [])
        self.program = program
        self.params = program.params(seed)
        self.pipeline = program.build(self.params) if wl.pipeline else None
        self.types: dict[str, list[dict]] = {}
        self.last_df: dict[str, object] = {}
        self.peak_rss = 0

    def _progress(self) -> dict:
        twins = sys.modules.get("pypiper_spark.streaming.twins")
        out = {"batches": 0, "input_rows": 0, "trigger_s": 0.0, "add_batch_s": 0.0, "wal_commit_s": 0.0}
        for progress in (twins.LAST_PROGRESS.values() if twins else ()):
            for p in progress:
                out["batches"] += 1
                out["input_rows"] += p.numInputRows
                dur = p.durationMs or {}
                out["trigger_s"] += dur.get("triggerExecution", 0) / 1e3
                out["add_batch_s"] += dur.get("addBatch", 0) / 1e3
                out["wal_commit_s"] += dur.get("walCommit", 0) / 1e3
        return out

    def run_op(self, name: str) -> dict:
        from perfbench.checks import spark_fingerprint
        from pypiper_spark.catalog import load_table

        twins = sys.modules.get("pypiper_spark.streaming.twins")
        if twins:
            twins.LAST_PROGRESS.clear()
        before = self.layers.snapshot() if self.layers else {}
        rec = {"op": name, "t0": time.time() * 1e3}
        t = time.perf_counter()
        try:
            if name == PIPELINE:
                src = load_table(self.spark, self.sf_dir, "lineitem").select(*self.program.SOURCE_COLUMNS)
                with self.pipeline:
                    frames = self.pipeline.run(src)
                    rec["build_s"] = time.perf_counter() - t
                    rec["fp"] = [spark_fingerprint(f) for f in frames]
            else:
                df = self.specs[name].fn(self.spark, self.sf_dir)
                rec["build_s"] = time.perf_counter() - t
                frames = [df]
                rec["fp"] = [spark_fingerprint(df)]
                self.last_df[name] = df
            rec["action_s"] = time.perf_counter() - t - rec["build_s"]
            if name not in self.types:
                self.types[name] = [dict(f.dtypes) for f in frames]
        except Exception as e:  # one failed operation must not end the run
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            print(f"[perfbench] {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            self.spark.catalog.clearCache()
        rec["wall_s"] = time.perf_counter() - t
        rec["t1"] = time.time() * 1e3
        rec["stream"] = self._progress()
        if self.layers:
            after = self.layers.snapshot()
            rec["layers"] = {
                k: (after[k][0] - before.get(k, (0, 0.0))[0], after[k][1] - before.get(k, (0, 0.0))[1])
                for k in after
            }
        return rec

    def run_pass(self, kind: str) -> dict:
        cpu0, steal0, t = host.tree_cpu_s(), host.steal_s(), time.perf_counter()
        rows = [self.run_op(name) for name in self.ops]
        rec = {
            "kind": kind,
            "wall_s": time.perf_counter() - t,
            "cpu_s": host.tree_cpu_s() - cpu0,
            "steal_s": host.steal_s() - steal0,
            "ops": rows,
        }
        self.peak_rss = max(self.peak_rss, host.tree_rss_bytes())
        return rec


def _check(runner: Runner, passes: list[dict], base_dir: str) -> tuple[int, int, list[str]]:
    """Compare every operation with its DuckDB twin, then run the property
    checks. Returns (checks attempted, checks failed, mismatches)."""
    import pyarrow.parquet as pq

    from perfbench.checks import duck_connect, duck_fingerprint
    from pypiper_spark.catalog import TABLES
    from pypiper_spark.registry import resolve_oracle

    ncpu = len(os.sched_getaffinity(0))
    con = duck_connect(runner.sf_dir, ncpu, TABLES)
    expected: dict[str, list[tuple[int, int]]] = {}
    for name, types in runner.types.items():
        if name == PIPELINE:
            sqls = runner.program.twin_sql(runner.params)
        else:
            sqls = [resolve_oracle(runner.specs[name], runner.sf_dir)]
        expected[name] = [duck_fingerprint(con, sql, t) for sql, t in zip(sqls, types)]
    bad = sorted({
        f"{r['op']}: spark {r['fp']} != duckdb {expected[r['op']]}"
        for p in passes for r in p["ops"]
        if "fp" in r and r["fp"] != expected[r["op"]]
    })

    attempted = failed = 0

    def prop(label: str, fn) -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            ok, detail = fn()
        except Exception as e:
            failed += 1
            print(f"[perfbench] property {label} failed: {e!r}", file=sys.stderr)
            return
        if not ok:
            bad.append(f"property {label}: {detail}")

    def src_rows(table: str) -> int:
        return pq.ParquetFile(os.path.join(runner.sf_dir, f"{table}.parquet")).metadata.num_rows

    if STREAM_INGEST in runner.wl.queries:
        def streamed():
            want = src_rows("events")
            got = {r["stream"]["input_rows"] for p in passes for r in p["ops"] if r["op"] == STREAM_INGEST}
            return got == {want}, f"micro-batch input rows {sorted(got)} != events rows {want}"

        def ingested():
            from pyspark.sql import functions as F

            got = runner.last_df[STREAM_INGEST].agg(F.sum("n_events")).first()[0]
            return got == src_rows("events"), f"table rows {got} != events rows {src_rows('events')}"

        prop(f"{STREAM_INGEST} streams every events row", streamed)
        prop(f"{STREAM_INGEST} table holds every event", ingested)
    if runner.wl.copies > 1 and "q_pricing_summary" in runner.wl.queries:
        def tenfold():
            spec = runner.specs["q_pricing_summary"]
            got = spec.fn(runner.spark, runner.sf_dir).collect()
            base_con = duck_connect(base_dir, ncpu, TABLES)
            base = base_con.sql(resolve_oracle(spec, base_dir)).fetchall()
            k = runner.wl.copies
            scale = {"sum_qty": 100, "sum_base_price": 100, "sum_disc_price": 10_000, "sum_charge": 1_000_000}
            for g, b in zip(got, base):
                g = g.asDict()
                if (g["l_returnflag"], g["l_linestatus"]) != b[:2] or g["count_order"] != k * b[-1]:
                    return False, f"group {b[:2]} count {g['count_order']} != {k} x {b[-1]}"
                for i, (col, s) in enumerate(scale.items(), start=2):
                    if round(g[col] * s) != k * round(b[i] * s):
                        return False, f"group {b[:2]} {col} {g[col]} != {k} x {b[i]}"
                for i, col in enumerate(("avg_qty", "avg_price", "avg_disc"), start=6):
                    if abs(g[col] - b[i]) > 1e-9 * max(1.0, abs(b[i])):
                        return False, f"group {b[:2]} {col} {g[col]} != {b[i]}"
            return len(got) == len(base) > 0, f"{len(got)} groups != {len(base)}"

        prop(f"q_pricing_summary at {runner.wl.copies}x is {runner.wl.copies} x the base corpus", tenfold)
    return attempted, failed, bad


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(runner: Runner, passes: list[dict], artifact_bytes: int, setup: dict) -> dict:
    from perfbench.trace import pass_driver_gap_s

    measured = [p for p in passes if p["kind"] == "measured"]
    queries = set(runner.wl.queries)

    def per_pass(fn):
        return _median([fn(p) for p in measured])

    def op_sum(p, key, only=queries):
        return sum(r.get(key, 0.0) for r in p["ops"] if r["op"] in only)

    def layer(p, name, i):
        return sum(r.get("layers", {}).get(name, (0, 0.0))[i] for r in p["ops"])

    def spark_sum(p, key):
        return sum(r["spark"][key] for r in p["ops"])

    warm_build = {
        q: _median([r["build_s"] for p in measured for r in p["ops"] if r["op"] == q and "build_s" in r])
        for q in queries
    }
    cold = passes[0]
    m = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "registry.import_s": (setup["registry_import_s"], "s"),
        "queries.build_s": (per_pass(lambda p: op_sum(p, "build_s")), "s"),
        "queries.build_cold_s": (op_sum(cold, "build_s"), "s"),
        "queries.action_s": (per_pass(lambda p: op_sum(p, "action_s")), "s"),
        "artifacts.build_s": (
            sum(r.get("build_s", 0.0) - warm_build[r["op"]] for r in cold["ops"] if r["op"] in queries), "s"),
        "artifacts.bytes": (artifact_bytes, "bytes"),
        "pipeline.run_s": (per_pass(lambda p: op_sum(p, "wall_s", {PIPELINE})), "s"),
        "catalog.load_table_s": (per_pass(lambda p: layer(p, "catalog.load_table", 1)), "s"),
        "catalog.load_table_calls": (per_pass(lambda p: layer(p, "catalog.load_table", 0)), "count"),
        "tableformat.commits": (per_pass(lambda p: layer(p, "tableformat.commit", 0)), "count"),
        "tableformat.commit_s": (per_pass(lambda p: layer(p, "tableformat.commit", 1)), "s"),
        "streaming.batches": (per_pass(lambda p: sum(r["stream"]["batches"] for r in p["ops"])), "count"),
    }
    for key in ("trigger_s", "add_batch_s", "wal_commit_s"):
        m[f"streaming.{key}"] = (per_pass(lambda p, key=key: sum(r["stream"][key] for r in p["ops"])), "s")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count")):
        m[f"spark.{key}"] = (per_pass(lambda p, key=key: spark_sum(p, key)), unit)
    m["spark.driver_gap_s"] = (per_pass(lambda p: pass_driver_gap_s(p["wall_s"], p["ops"])), "s")
    for key in ("executor_run_s", "executor_cpu_s", "gc_s"):
        m[f"spark.{key}"] = (per_pass(lambda p, key=key: spark_sum(p, key)), "s")
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "python_bytes"):
        m[f"spark.{key}"] = (per_pass(lambda p, key=key: spark_sum(p, key)), "bytes")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args, run_dir: str) -> dict:
    wl = WORKLOADS[args.workload]
    dirs = _isolate(run_dir, bool(args.trace))

    t = time.perf_counter()
    from pypiper_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=dirs["conf"])
    get_spark_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        from pypiper_spark.registry import all_queries

        specs = all_queries()
        registry_import_s = time.perf_counter() - t
        setup_s = host.process_age_s()

        from perfbench import corpus

        t = time.perf_counter()
        base_dir = os.path.join(dirs["corpus"], "base")
        rows = corpus.generate(base_dir, SF, args.seed)
        sf_dir = base_dir
        if wl.copies > 1:
            sf_dir = os.path.join(dirs["corpus"], f"x{wl.copies}")
            rows = corpus.scale_copies(base_dir, sf_dir, wl.copies)
        corpus_s = time.perf_counter() - t

        layers = None
        if args.trace:
            from perfbench.trace import Layers

            layers = Layers()
            layers.install()
        runner = Runner(spark, specs, wl, sf_dir, args.seed, layers)
        passes = [runner.run_pass("cold")]
        artifact_bytes = corpus.dir_bytes(dirs["index"]) + corpus.dir_bytes(dirs["tmp"])
        passes += [runner.run_pass("warm-up") for _ in range(WARM_UP_PASSES)]
        t = time.perf_counter()
        while len(passes) < 1 + WARM_UP_PASSES + MIN_MEASURED_PASSES or time.perf_counter() - t < args.seconds:
            passes.append(runner.run_pass("measured"))
        checks_attempted, checks_failed, bad = _check(runner, passes, base_dir)
    finally:
        _stop_spark(spark)

    measured = [p for p in passes if p["kind"] == "measured"]
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cold_pass_s": {"value": passes[0]["wall_s"], "unit": "s"},
        "warm_pass_s": {"value": min(p["wall_s"] for p in measured), "unit": "s"},
        "cpu_s": {"value": _median([p["cpu_s"] for p in measured]), "unit": "s"},
    }
    op_failures = sum("error" in r for p in passes for r in p["ops"])
    for line in bad:
        print(f"[perfbench] MISMATCH {line}", file=sys.stderr)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "corpus_rows": rows,
        "corpus_bytes": corpus.dir_bytes(sf_dir),
        "corpus_s": round(corpus_s, 3),
        "order": runner.ops,
        "pass_wall_s": [round(p["wall_s"], 3) for p in passes],
        "pass_cpu_s": [round(p["cpu_s"], 3) for p in passes],
        "pass_steal_s": [round(p["steal_s"], 2) for p in passes],
        "op_wall_s": {name: [round(r["wall_s"], 3) for p in passes for r in p["ops"] if r["op"] == name]
                      for name in runner.ops},
        "peak_rss_mb": round(runner.peak_rss / 2**20),
    }
    print(f"[perfbench] {json.dumps(context)}", file=sys.stderr)

    metrics = e2e
    if args.trace:
        from perfbench.trace import event_log_metrics

        event_log_metrics(dirs["events"], [r for p in passes for r in p["ops"]])
        setup = {"get_spark_s": get_spark_s, "registry_import_s": registry_import_s}
        metrics = _layer_metrics(runner, passes, artifact_bytes, setup)
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(out, "w") as fh:
            json.dump({"context": context, "end_to_end_traced": e2e, "per_layer": metrics,
                       "passes": passes}, fh, indent=1, default=str)
        print(f"[perfbench] per-operation rows: {os.path.relpath(out, ROOT)}", file=sys.stderr)

    return {
        "correct": not bad,
        "attempted": sum(len(p["ops"]) for p in passes) + checks_attempted,
        "failed": op_failures + checks_failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=2)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "pypiper_spark", "__init__.py")):
        print("perfbench: no pypiper_spark package beside perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, "runs", f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still holds its directory there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
