"""Workload benchmark for dbkit_spark.

    python3 perfbench/run.py --workload olap|dedup --seed N \
        --seconds S --trace 0|1

Generates the workload's inputs from the seed, sets up once from cold
(JVM and session build + ``load_all()`` + one warm-up execution of every
operation), then runs rounds in a closed loop with one client until
``--seconds`` have passed (at least three rounds; two when traced). Every
result is checked outside the timed regions; a mismatch makes the exit
code 1. The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1`` (traced rounds
alternate with untraced ones, and the difference of their medians is
reported as ``trace.overhead_s``; a traced ``dedup`` run ends with one
traced streaming-ingest pass, which supplies the ``ingest.*`` and write
counters). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not os.path.isdir(os.path.join(ROOT, "dbkit_spark")):
    sys.exit(f"perfbench: no dbkit_spark package under {ROOT}")
sys.path.insert(0, ROOT)

from perfbench import check, gen, host  # noqa: E402
from perfbench import trace as tr  # noqa: E402

# Eight of bench.py's 13 headline queries: one cold run of each workload
# must fit the run budget (README.md). Left out: q05 and q34 (2-job scans
# whose layers q01, q22 and q12 cover), q13 (a broadcast range join, as
# q07's joins are broadcast), q40 (the minhash/LSH pipeline q87 runs first)
# and q209 (10-gram span counting, another llm.dedup tokenize-and-exchange).
WORKLOADS = {
    "olap": [
        "q01_pricing_summary", "q07_join_3way_revenue", "q22_topk_per_customer",
        "q12_asof_click_view", "q280_running_revenue",
    ],
    "dedup": ["q43_cosine_topk", "q112_jaccard_prefix_filter", "q87_dedup_clusters"],
}
# input tables per query, for rows_per_s
TABLES_READ = {
    "q01_pricing_summary": ["lineitem"],
    "q07_join_3way_revenue": ["orders", "customer", "nation"],
    "q22_topk_per_customer": ["orders"],
    "q12_asof_click_view": ["events"],
    "q280_running_revenue": ["orders"],
    "q43_cosine_topk": ["embeddings"],
    "q112_jaccard_prefix_filter": ["documents"],
    "q87_dedup_clusters": ["documents"],
}
# measured untraced rounds a run takes at least, for a median of several
MIN_ROUNDS = 3
CONTENDED_PROBE_RATIO = 1.3
CONTENDED_STEAL_SHARE = 0.1  # of the vCPU time a round had

# The JSON line carries END_TO_END. The round figures below are printed
# beside it but are not in it: on a shared VM whose speed drifts by up to 2x
# within minutes, their CPU and wall times spread too widely between runs to
# gate on (README.md). Compare them in alternating pairs of runs instead.
END_TO_END = {"setup_s": "s"}
PRINTED = {"round_cpu_s": "s", "round_p50_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.build_s": "s", "catalog.load_s": "s",
    "plan.build_s": "s", "plan.build_jobs": "count", "plan.optimize_s": "s",
    "sources.read_table_s": "s", "sources.footer_s": "s", "sources.input_mb": "MB",
    "sources.write_mb": "MB", "sources.files_written": "count",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.idle_s": "s", "exec.cpu_s": "s", "exec.run_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.fetch_wait_s": "s",
    "exec.spill_mb": "MB", "exec.gc_s": "s", "exec.result_mb": "MB",
    "scan.rows": "count", "exchange.count": "count", "exchange.rows": "count",
    "agg.time_s": "s", "join.bhj": "count", "join.smj": "count", "join.shj": "count",
    "window.count": "count", "python.rows": "count", "python.time_s": "s",
    "iterate.s": "s", "iterate.jobs": "count", "llm.driver_s": "s", "llm.jobs": "count",
    "ingest.batch_s": "s", "ingest.admitted": "count", "ingest.rejected": "count",
    "ingest.read_mb": "MB", "ingest.state_mb": "MB", "ingest.state_files": "count",
    "ingest.batch_p50_s": "s", "write_amp": "ratio", "trace.overhead_s": "s",
}
# per-layer keys a traced dedup run takes from its ingest pass
INGEST_LAYER = [k for k in PER_LAYER if k.startswith("ingest.")] + [
    "sources.write_mb", "sources.files_written", "write_amp",
]
INGEST_THRESHOLD = 0.5
INGEST_PASS_LATEST_S = 90.0


def tail(values: list[float]) -> tuple[int, float] | None:
    """(percentile, value): the highest of p99/p95/p90/p75 that has at
    least ten samples beyond it; None when there are too few samples."""
    n = len(values)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]
    return None


def describe_tail(name: str, values: list[float], what: str) -> str:
    t = tail(values)
    if t is None:
        return f"{name} unresolved: {len(values)} {what}, p75 needs at least 40"
    return f"{name} {t[1]:.4f} s is p{t[0]} of {len(values)} {what}"


def du(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            size += os.path.getsize(os.path.join(dirpath, f))
            files += 1
    return size, files


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = args.workload
        self.work = os.path.join(ROOT, "perfbench", "_work", f"{args.workload}-{args.seed}")
        self.data_dir = os.path.join(self.work, "data")
        self.rng = random.Random(args.seed)
        self.failed = 0
        self.attempted = 0
        self.peak_rss = 0.0
        self.spark = None
        self.catalog = None
        self.store = None
        self.layers = None

    # --- inputs --------------------------------------------------------------
    def generate(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.tables = gen.write_tables(self.args.seed, self.data_dir)
        if self.workload == "dedup" and self.args.trace:
            import pyarrow.parquet as pq

            docs = pq.read_table(os.path.join(self.data_dir, "documents.parquet"))
            self.plan = gen.make_ingest_batches(self.args.seed, docs)
            self.batches_dir = os.path.join(self.work, "batches")
            self.input_bytes = gen.write_ingest_batches(self.plan, self.batches_dir)
        self.round_rows = sum(
            self.tables[t]["rows"] for q in WORKLOADS[self.workload] for t in TABLES_READ[q]
        )

    # --- session -------------------------------------------------------------
    def build_session(self):
        import tempfile

        from dbkit_spark.session import build_session

        # keep every temporary file of Python, the JVM and Spark inside the work dir
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
        tempfile.tempdir = tmp
        return build_session(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )

    def setup(self) -> dict[str, float]:
        """Cold set-up: session build (starts the JVM and the
        SparkContext) + ``load_all()`` (imports the catalog) + one
        warm-up execution of every operation, whose results are kept
        for the check."""
        t0 = time.perf_counter()
        self.spark = self.build_session()
        t1 = time.perf_counter()
        from dbkit_spark.catalog import load_all

        self.catalog = load_all()
        t2 = time.perf_counter()
        self.results = {}
        ops = self.ops()
        _, times, _, _ = self.run_round(ops, keep_results=True, warmup=True)
        t3 = time.perf_counter()
        self.warmup_times = dict(zip(ops, times))
        return {"setup_s": t3 - t0, "session.build_s": t1 - t0, "catalog.load_s": t2 - t1}

    def ops(self) -> list[str]:
        ops = list(WORKLOADS[self.workload])
        self.rng.shuffle(ops)
        return ops

    # --- operations ----------------------------------------------------------
    def run_query(self, name: str, keep: bool, traced: bool, spans: list) -> None:
        a = time.time()
        df = self.catalog[name].fn(self.spark, self.data_dir)
        b = time.time()
        if traced:
            df._jdf.queryExecution().executedPlan()
            spans += [("plan.build", a, b), ("plan.optimize", b, time.time())]
        if keep:
            self.results[name] = df.toArrow()
        else:
            df.write.format("noop").mode("overwrite").save()
        self.spark.catalog.clearCache()

    def run_ingest(self) -> tuple[list[tuple[str, float, float, float, int]], list[int]]:
        """One ingest from an empty state; returns per-batch
        (group, t0, t1, seconds, admitted) and the admitted ids."""
        import pyarrow.parquet as pq
        from pyspark.sql import types as T

        import dbkit_spark.streaming.ingest_dedup as ing

        state = os.path.join(self.work, "state")
        shutil.rmtree(state, ignore_errors=True)
        batches: list = []
        orig = ing.ingest_batch
        sc = self.spark.sparkContext

        def timed(*a, **kw):
            group = f"pb-{self.workload}-{id(batches)}-{len(batches)}"
            sc.setJobGroup(group, f"ingest batch {len(batches)}")
            t0, p0 = time.time(), time.perf_counter()
            n = orig(*a, **kw)
            batches.append((group, t0, time.time(), time.perf_counter() - p0, n))
            return n

        schema = T.StructType([
            T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType()),
        ])
        stream = (
            self.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(self.batches_dir)
        )
        ing.ingest_batch = timed
        try:
            ing.run_dedup_ingest(stream, state, threshold=INGEST_THRESHOLD, timeout_sec=120)
        finally:
            ing.ingest_batch = orig
        ids = pq.read_table(os.path.join(state, "docs"), columns=["doc_id"]).column(0).to_pylist()
        self.state_bytes, self.state_files = du(state)
        return batches, ids

    def run_round(self, ops: list[str], keep_results=False, warmup=False, traced=False):
        """Runs every operation once; returns (round seconds, op seconds,
        op CPU seconds of the process tree, per-op layer counters or None)."""
        sc = self.spark.sparkContext
        op_times, op_cpu, counters = [], [], {}
        round_t0 = time.perf_counter()
        if ops == ["ingest"]:
            try:
                batches, ids = self.run_ingest()
            except Exception:  # noqa: BLE001 - any engine error is a failed operation
                self.attempted += 1
                self.fail("ingest round raised:\n" + traceback.format_exc(limit=3))
                return time.perf_counter() - round_t0, [], [], None
            elapsed = time.perf_counter() - round_t0
            self.check_ingest([n for *_, n in batches], ids)
            op_times = [s for _, _, _, s, _ in batches]
            self.attempted += len(batches)
            if traced:
                counters = self.ingest_counters(batches)
        else:
            for name in ops:
                spans = []
                group = f"pb-{name}-{time.time_ns()}"
                sc.setJobGroup(group, name)
                cpu0 = host.tree_cpu_s()
                t0, p0 = time.time(), time.perf_counter()
                try:
                    self.run_query(name, keep_results, traced, spans)
                except Exception:  # noqa: BLE001 - any engine error is a failed operation
                    self.fail(f"{name} raised:\n" + traceback.format_exc(limit=3))
                    continue
                finally:
                    if not warmup:
                        self.attempted += 1
                op_times.append(time.perf_counter() - p0)
                op_cpu.append(host.tree_cpu_s() - cpu0)
                if traced:
                    counters[name] = self.store.collect(
                        group, spans + self.layers.take(), t0, time.time()
                    )
            # a round excludes the status-store and /proc reads between operations
            elapsed = sum(op_times)
        sc.setJobGroup("perfbench-idle", "idle")
        self.peak_rss = max(self.peak_rss, host.tree_hwm_mb())
        return elapsed, op_times, op_cpu, counters if traced else None

    def ingest_counters(self, batches) -> dict[str, dict[str, float]]:
        spans = self.layers.take()
        out = {}
        rows = [len(b) for b in self.plan.batches]
        for k, (group, t0, t1, _, n) in enumerate(batches):
            inside = [s for s in spans if t0 <= s[1] and s[2] <= t1 + 1e-3]
            m = self.store.collect(group, inside, t0, t1)
            m["ingest.admitted"] = n
            m["ingest.rejected"] = rows[k] - n
            m["ingest.read_mb"] = m.get("sources.input_mb", 0.0)
            out[f"ingest.batch{k}"] = m
        last = out[f"ingest.batch{len(batches) - 1}"]
        last["ingest.state_mb"] = self.state_bytes / (1024 * 1024)
        last["ingest.state_files"] = self.state_files
        return out

    # --- checks --------------------------------------------------------------
    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"FAIL {msg}", flush=True)

    def check_queries(self) -> None:
        want = check.oracle_fingerprints(
            self.data_dir, {q: self.catalog[q].oracle for q in self.results}
        )
        for q, table in self.results.items():
            self.attempted += 1
            got = check.arrow_fingerprint(table)
            if got != want[q]:
                self.fail(f"{q}: fingerprint {got} != oracle {want[q]}")
        self.results = None

    def check_ingest(self, per_batch: list[int], ids: list[int]) -> None:
        """One check per ingest round against the exact oracle, so every
        round admits the same set."""
        expected = check.expected_admitted(self.plan, INGEST_THRESHOLD)
        bad = check.ingest_violations(self.plan, expected, per_batch, ids)
        self.attempted += 1
        if bad:
            self.fail("ingest: " + "; ".join(bad))


def layer_summary(traced_rounds: list[dict]) -> tuple[dict, dict]:
    """Per-op medians and the median of per-round sums."""
    per_op = defaultdict(lambda: defaultdict(list))
    sums = defaultdict(list)
    for rnd in traced_rounds:
        tot = defaultdict(float)
        for op, m in rnd.items():
            for k, v in m.items():
                per_op[op][k].append(v)
                tot[k] += v
        for k in PER_LAYER:
            sums[k].append(tot.get(k, 0.0))
    return (
        {op: {k: statistics.median(v) for k, v in ms.items()} for op, ms in per_op.items()},
        {k: statistics.median(v) for k, v in sums.items()},
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits on stdin EOF), and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.perf_counter()

    b = Bench(args)
    phases = [("start", start)]
    b.generate()
    phases.append(("generate", time.perf_counter()))
    load_pre = host.loadavg1()
    host.calibration_probe(4)  # warm numpy's sort before timing the probe
    cal_pre = host.calibration_probe(4)

    setup = b.setup()
    phases.append(("setup", time.perf_counter()))
    b.check_queries()
    phases.append(("check", time.perf_counter()))
    prov = host.provenance(b.spark, ROOT, args.seed)
    if args.trace:
        b.store = tr.StatusStore(b.spark)
        b.layers = tr.Layers()

    # a traced run alternates untraced and traced rounds, so it needs two
    min_rounds = 2 if args.trace else MIN_ROUNDS
    rounds, cpus, steals, traced_rounds_t, traced, probes, loads = [], [], [], [], [], [], []
    op_times, op_cpus = defaultdict(list), defaultdict(list)
    t_measure = time.perf_counter()
    k = 0
    while k < min_rounds or time.perf_counter() - t_measure < args.seconds:
        loads.append(host.loadavg1())
        probes.append(host.calibration_probe(4))
        if args.trace and k % 2 == 1:
            with b.layers:
                elapsed, _, _, counters = b.run_round(b.ops(), traced=True)
            traced.append(counters or {})
            traced_rounds_t.append(elapsed)
        else:
            steal0 = host.steal_s()
            ops = b.ops()
            elapsed, times, cpu, _ = b.run_round(ops)
            steals.append(host.steal_s() - steal0)
            rounds.append(elapsed)
            cpus.append(sum(cpu))
            for op, t, c in zip(ops, times, cpu):
                op_times[op].append(t)
                op_cpus[op].append(c)
        k += 1
    phases.append(("measure", time.perf_counter()))

    ingest_pass = batch_times = None
    used = time.perf_counter() - start
    if args.trace and b.workload == "dedup" and used > INGEST_PASS_LATEST_S:
        print(f"ingest pass skipped: {used:.0f} s used before it; its figures read 0")
    elif args.trace and b.workload == "dedup":
        # the streaming ingest runs the same llm.dedup primitives against an
        # on-disk index; one traced pass measures its layer (see README.md).
        # It takes up to a minute on a contended host, and the whole command
        # must end within 180 s, hence the skip above.
        with b.layers:
            _, batch_times, _, ingest_pass = b.run_round(["ingest"], traced=True)
        phases.append(("ingest_pass", time.perf_counter()))
    cal_post = host.calibration_probe(4)
    load_post = host.loadavg1()
    stop_spark(b.spark)
    shutil.rmtree(b.work, ignore_errors=True)
    phases.append(("stop", time.perf_counter()))

    # --- report --------------------------------------------------------------
    # loadavg sampled between rounds counts this benchmark's own threads, so
    # only the reading before the run says whether someone else was busy.
    # The single-threaded probe misses a hypervisor that steals vCPU time
    # from a multi-threaded round, so each round's stolen share is checked.
    all_probes = [cal_pre, cal_post] + probes
    ncpu = os.cpu_count() or 1
    steal_share = max(st / (r * ncpu) for st, r in zip(steals, rounds))
    contended = (
        max(all_probes) / min(all_probes) > CONTENDED_PROBE_RATIO
        or load_pre > ncpu
        or steal_share > CONTENDED_STEAL_SHARE
    )
    round_p50 = statistics.median(rounds)
    e2e = {
        "setup_s": setup["setup_s"],
        "round_p50_s": round_p50,
        # each operation's median over the measured rounds, summed: a
        # one-off cost in one round (a Python worker forked and importing
        # pandas, say) does not carry into the figure
        "round_cpu_s": sum(statistics.median(c) for c in op_cpus.values()),
        "rows_per_s": b.round_rows / round_p50,
        "peak_rss_mb": b.peak_rss,
    }
    failed = b.failed
    attempted = max(1, b.attempted)
    print(f"workload {b.workload}  seed {args.seed}  trace {args.trace}")
    print("provenance " + json.dumps(prov))
    print("inputs " + json.dumps(b.tables))
    print(
        "noise " + json.dumps({
            "probe_pre_s": round(cal_pre, 3), "probe_post_s": round(cal_post, 3),
            "probe_rounds_s": [round(p, 3) for p in probes], "probe_nominal_s": 0.125,
            "loadavg1": [load_pre] + loads + [load_post],
            "steal_rounds_s": [round(x, 2) for x in steals], "steal_share_max": round(steal_share, 3),
            "contended": contended,
        })
    )
    print("phases_s " + json.dumps(
        {name: round(t - prev, 2) for (_, prev), (name, t) in zip(phases, phases[1:])}
    ))
    print("setup " + json.dumps({k: round(v, 3) for k, v in setup.items()}))
    print("warmup_s " + json.dumps({op: round(t, 3) for op, t in b.warmup_times.items()}))
    print(f"rounds n={len(rounds)} " + json.dumps([round(r, 3) for r in rounds]))
    print("round_cpu_s " + json.dumps([round(c, 2) for c in cpus]))
    print("ops_p50_s " + json.dumps({op: round(statistics.median(t), 3) for op, t in op_times.items()}))
    print("ops_cpu_s " + json.dumps({op: [round(x, 2) for x in c] for op, c in op_cpus.items()}))
    print(describe_tail("round_tail_s", rounds, "rounds"))
    print(f"rows_per_s input size: {b.round_rows} rows per round")
    print(f"failed_frac {failed / attempted:.4f} ratio ({failed} of {attempted} operations)")
    for name, unit in {**END_TO_END, **PRINTED}.items():
        print(f"  {name:14s} {e2e[name]:12.4f} {unit}")
    if contended:
        print("CONTENDED: host noise during this run; do not read its times as faster or slower")

    if args.trace:
        per_op, per_round = layer_summary(traced)
        if ingest_pass:
            print("ingest " + json.dumps({
                "batches": len(b.plan.batches), "rows": b.plan.rows, "bytes": b.input_bytes,
                "near_copies": len(b.plan.near_copies), "reingested": len(b.plan.reingested),
            }))
            print(describe_tail("batch_tail_s", batch_times, "micro-batches"))
            pass_ops, pass_round = layer_summary([ingest_pass])
            per_op.update(pass_ops)
            pass_round["ingest.batch_p50_s"] = statistics.median(batch_times)
            pass_round["write_amp"] = b.state_bytes / b.input_bytes
            for key in INGEST_LAYER:
                per_round[key] = pass_round[key]
        per_round["session.build_s"] = setup["session.build_s"]
        per_round["catalog.load_s"] = setup["catalog.load_s"]
        per_round["trace.overhead_s"] = statistics.median(traced_rounds_t) - round_p50
        for op, m in sorted(per_op.items()):
            print(f"op {op} " + json.dumps({k: round(v, 4) for k, v in sorted(m.items())}))
        print(f"traced rounds n={len(traced_rounds_t)} " + json.dumps([round(r, 3) for r in traced_rounds_t]))
        print("round " + json.dumps({k: round(per_round[k], 4) for k in PER_LAYER}))
        metrics = {k: {"value": per_round[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
