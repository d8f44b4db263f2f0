"""CDC ingest benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload trickle_mor --seed 1 --seconds 10 --trace 0

Run from the repository root. A run lands (or reuses) the workload's seeded
tail, builds a local[nproc] SparkSession, warms up with untimed drains,
times drains while the next one is predicted to end within ``--seconds``,
then runs the read probes on the last drained table. Each drain is checked
for exactly-once and for the plan-shape mechanism the workload exists for;
each read answer and the final table digest are checked against the replay
oracle. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` drains
untraced, traced and untraced, times ``READ_REPEATS`` rounds of read probes after
an untimed one, and prints the per-layer metrics. perfbench/README.md
has the workload rationale, metric definitions and the layer map.

Exit status: 0 when every check passed, 1 when one failed or the run raised
(the JSON line, if printed, says ``"correct": false``), 2 when the engine
sources are not in the checkout or the workload is unknown (nothing is
printed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = len(os.sched_getaffinity(0))  # what nproc reports

#: a traced run times this many rounds of read probes; the read metrics
#: are their medians
READ_REPEATS = 5


def _process_start() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _spark_conf(work: str) -> dict[str, str]:
    """Session sized for the box the benchmark runs on: every core, a fixed
    2 GB driver heap (a heap grown on demand makes the peak RSS noise), well
    inside a 15 GB machine shared with other work, shuffle width twice the
    cores, and all scratch space inside this run's work dir. The JVM keeps
    its default tiered compilation: C1 alone halved the data plane's
    throughput on 200k-event epochs."""
    from investigraph_etl_spark.session import BENCH_CONF

    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        **BENCH_CONF,
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(2 * CORES),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads stage metrics from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _percentile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_summary(xs: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (absent when the sample is too small to have one above the median)."""
    out = {"n": len(xs), "p50": _percentile(xs, 0.5) if xs else None}
    if len(xs) >= 21:
        q = 1 - 10 / len(xs)
        out.update(tail_pct=round(100 * q, 2), tail=_percentile(xs, q))
    return out


class Checks:
    """Counts operations attempted and failed; a failed one is reported on
    stderr and makes the run incorrect."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


def _mechanism(wl, shapes: list[str], compactions: int) -> tuple[bool, str]:
    if wl.name == "bulk_zipf":
        return all(s == "combine" for s in shapes), f"bulk_zipf all combine: {shapes}"
    if wl.name == "bulk_uniform":
        return (
            len(shapes) > 1 and all(s == "fused" for s in shapes[1:]),
            f"bulk_uniform fused after epoch 0: {shapes}",
        )
    if wl.name == "trickle_mor":
        return compactions >= 1, f"trickle_mor compacts at least once: {compactions}"
    return all(s == "two_action" for s in shapes), f"trickle_cow all two_action: {shapes}"


def open_stream(spark, wl, landing: str, work: str, tag: str):
    """A fresh table and the pipeline that feeds it from ``landing``."""
    from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
    from investigraph_etl_spark.lake.table import LakeTable
    from investigraph_etl_spark.streaming.ingest import IngestPipeline

    from workloads import N_BUCKETS

    root = os.path.join(work, f"table-{tag}")
    table = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS, mode=wl.mode)
    pipe = IngestPipeline(
        spark,
        events_dir=landing,
        table_root=root,
        checkpoint_dir=os.path.join(work, f"ckpt-{tag}"),
        max_files_per_trigger=wl.files_per_epoch,
    )
    return table, pipe


def _host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:9]]
    return xs[7], sum(xs)


def _cpu_s(pid: int) -> float:
    """CPU seconds (user + system) of process ``pid`` and its children
    that have exited, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        xs = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in xs[11:15]) / os.sysconf("SC_CLK_TCK")


def drain(pipe, jvm_pid: int) -> dict:
    """``run_available_now`` once: this drain's epoch results, its seconds,
    its wall-clock window, the CPU seconds the driver (Python and JVM)
    spent on it and the host's steal share meanwhile."""
    n0 = len(pipe.results)
    c0 = _cpu_s(os.getpid()) + _cpu_s(jvm_pid)
    s0, h0 = _host_ticks()
    w0, t0 = time.time(), time.perf_counter()
    pipe.run_available_now()
    t1 = time.perf_counter()
    s1, h1 = _host_ticks()
    return {
        "results": pipe.results[n0:],
        "ingest_s": t1 - t0,
        "window": (w0, time.time()),
        "cpu_s": _cpu_s(os.getpid()) + _cpu_s(jvm_pid) - c0,
        "steal_frac": (s1 - s0) / max(1, h1 - h0),
    }


class Stager:
    """Moves landing files into a trickle run's stream directory, with
    strictly increasing mtimes so the file source admits them in order."""

    def __init__(self, landing: str) -> None:
        self.landing = landing
        self.n = 0
        os.makedirs(landing)

    def stage(self, files: list[str]) -> None:
        base = int(time.time()) - 10_000
        for src in files:
            dst = os.path.join(self.landing, os.path.basename(src))
            shutil.copyfile(src, dst)
            os.utime(dst, (base + self.n, base + self.n))
            self.n += 1


def check_drain(wl, inputs, table, v_before, out, lo, hi, tag, checks) -> None:
    """Exactly-once and mechanism checks on ``out``, a drain of epochs
    [lo, hi) that started at table version ``v_before``, and the drain's
    figures from the commit log. Commits are read from the log itself:
    ``history()`` lists only those after the latest log checkpoint."""
    meta = inputs.meta
    landed = sum(meta["epoch_events"][lo:hi])
    results = out["results"]
    out["events"] = landed

    applied = sum(r.get("events_applied", 0) + r.get("events_quarantined", 0) for r in results)
    checks.check(applied == landed, f"{tag}: applied+quarantined {applied} != landed {landed}")
    all_commits = [table.log.get(v) for v in table.log.versions()]
    commits = [c for c in all_commits if c.epoch_id is not None]
    tokens = {(c.app_id, c.epoch_id) for c in commits}
    checks.check(
        len(tokens) == len(commits) == hi and len(results) == hi - lo
        and not any(r.get("skipped") for r in results),
        f"{tag}: {len(commits)} epoch commits, {len(tokens)} distinct, "
        f"{len(results)} results for epochs [{lo}, {hi})",
    )
    mine = [c for c in all_commits if c.version > v_before]
    compactions = sum(1 for c in mine if (c.metrics or {}).get("compaction"))
    ok, what = _mechanism(wl, [r.get("plan_shape") for r in results], compactions)
    checks.check(ok, f"{tag}: {what}")
    stamps = [c.committed_at for c in mine if c.epoch_id is not None]
    out["epoch_intervals"] = [b - a for a, b in zip(stamps, stamps[1:])]

    data = os.path.join(table.root, "data")
    live, _ = table.files_for()
    out["compactions"] = compactions
    out["files_added"] = sum(len(c.added or []) for c in mine)
    out["bytes_written_per_event"] = sum(
        os.path.getsize(os.path.join(data, f)) for c in mine for f in c.added or []
    ) / landed
    per_bucket = Counter(f.split("bucket=", 1)[1].split("/", 1)[0] for f in live)
    out["max_generations_per_bucket"] = max(per_bucket.values(), default=0)
    out["table_bytes_per_event"] = sum(
        os.path.getsize(os.path.join(data, f)) for f in live
    ) / sum(meta["epoch_events"][:hi])
    out["last2_since"] = commits[hi - 2].version - 1


def changes_count(wl, table, since: int) -> int:
    """Rows changed after version ``since``. COW tables refuse changes() by
    design (a rewrite mixes changed and carried rows), so their reader diffs
    the two versions instead."""
    if wl.mode == "mor":
        return table.changes(since_version=since).count()
    return table.read().exceptAll(table.read(at_version=since)).count()


def warm_up_reads(wl, inputs, table, since: int) -> None:
    """One untimed round of the read probes on the table the timed rounds
    read, so they do not pay the read path's first-use code generation."""
    table.read().count()
    for key in inputs.meta["lookups"]:
        table.read(where=[("conv_id", "=", key["conv_id"])]).collect()
    changes_count(wl, table, since)


def read_probes(wl, inputs, table, hi: int, last2_since: int, checks, rounds: int) -> dict:
    """The read path on the table after the last drain, every answer checked
    against the oracle. With ``rounds`` > 1 (a traced run) each probe is
    timed that many times; a single round skips the full read, whose row
    count the digest check below covers."""
    from workloads import table_digest

    exp = inputs.meta["expected"][str(hi)]
    out = {"read_full": [], "lookup": [], "changes": []}
    pruned = scanned = 0
    for _ in range(rounds):
        if rounds > 1:
            t0 = time.perf_counter()
            n_rows = table.read().count()
            out["read_full"].append(time.perf_counter() - t0)
            checks.check(n_rows == exp["rows"], f"read: rows {n_rows} != oracle {exp['rows']}")

        for key, want in zip(inputs.meta["lookups"], exp["lookup_rows"]):
            report: dict = {}
            t0 = time.perf_counter()
            rows = table.read(where=[("conv_id", "=", key["conv_id"])], prune_report=report).collect()
            out["lookup"].append((key["kind"], time.perf_counter() - t0))
            pruned += report.get("files_pruned", 0)
            scanned += report.get("files_scanned", 0)
            checks.check(len(rows) == want, f"lookup {key}: {len(rows)} rows, want {want}")

        # the last two epochs' changes
        t0 = time.perf_counter()
        n_changes = changes_count(wl, table, last2_since)
        out["changes"].append(time.perf_counter() - t0)
        if wl.mode == "mor":
            want = exp["last2_epoch_keys"]
            checks.check(n_changes == want, f"changes(): {n_changes} rows, want {want}")
        else:
            checks.check(0 < n_changes <= exp["rows"], f"version diff: {n_changes} rows")
    out["point_files_pruned_ratio"] = pruned / max(1, pruned + scanned)
    # row count and oracle digest, once per run
    live = table.read().toPandas()
    checks.check(len(live) == exp["rows"], f"read: rows {len(live)} != oracle {exp['rows']}")
    checks.check(table_digest(live) == exp["digest"], "table digest differs from the oracle's")
    return out


def _jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def _jvm_peak_rss_mb(spark) -> float:
    pid = _jvm_pid(spark)
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return kb / 1024


def _jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after a full collection."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def layer_metrics(spark, tracer, rep: dict) -> dict:
    """Per-layer figures of one traced drain (see README.md for the map)."""
    from spans import self_times, stage_metrics, subtree

    spans = tracer.spans
    root = max(i for i, s in enumerate(spans) if s.name == "streaming.run_available_now")
    idx = subtree(spans, root)
    selfs = self_times(spans, idx)

    def total(name: str) -> float:
        return sum(spans[i].dur for i in idx if spans[i].name == name)

    def count(name: str) -> int:
        return sum(1 for i in idx if spans[i].name == name)

    wall = spans[root].dur
    m = {
        "streaming.trigger_overhead_s": wall - total("cdc.apply_events_batch"),
        "cdc.apply_s": total("cdc.apply_events_batch"),
        "cdc.plan_build_s": total("cdc.plan.canonicalize_events") + total("cdc.plan.resolve_lww"),
        "lake.merge_s": total("lake.merge"),
        "lake.merge_self_s": sum(selfs[i] for i in idx if spans[i].name == "lake.merge"),
        "lake.compact_s": total("lake.compact"),
        "lake.log.read_state_s": total("lake.log.read_state"),
        "lake.log.read_state_calls": count("lake.log.read_state"),
        "lake.log.commit_s": total("lake.log.commit"),
        "lake.stats.collect_s": total("lake.stats.collect_file_stats"),
        "spark.write_action_s": total("spark.write_parquet"),
    }
    for op in ("list", "get", "put"):
        m[f"storage.ops.{op}"] = count(f"storage.{op}")
        m[f"storage.op_s.{op}"] = total(f"storage.{op}")
    layers: dict[str, float] = {}
    for i in idx:
        layer = spans[i].name.split(".", 1)[0]
        layers[layer] = layers.get(layer, 0.0) + selfs[i]
    for layer in ("streaming", "cdc", "lake", "storage", "spark"):
        m[f"{layer}.self_s"] = layers.get(layer, 0.0)
    # self times add up to the wall time by construction; what the spans
    # leave unexplained is the root's own time (Spark's trigger loop)
    m["trace.span_coverage"] = 1 - selfs[root] / wall

    results = rep["results"]
    shapes = [r.get("plan_shape") for r in results]
    for shape in ("combine", "fused", "two_action"):
        m[f"cdc.shape.{shape}"] = shapes.count(shape)
    applied = sum(r.get("events_applied", 0) for r in results)
    keys = applied - sum(r.get("conflicts_resolved", 0) for r in results)
    m["cdc.events_per_key"] = applied / max(1, keys)
    m["cdc.max_bucket_share"] = max(r.get("max_bucket_share", 0.0) for r in results)
    m["lake.compactions"] = rep["compactions"]
    m["lake.files_added"] = rep["files_added"]
    m["lake.max_generations_per_bucket"] = rep["max_generations_per_bucket"]
    m["lake.bytes_written_per_event"] = rep["bytes_written_per_event"]

    sm = stage_metrics(spark, *rep["window"])
    for k, v in sm.items():
        m[f"spark.{k}"] = v
    m["spark.cpu_util"] = sm["executor_cpu_s"] / (rep["ingest_s"] * spark.sparkContext.defaultParallelism)
    return m


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    t_proc = _process_start()
    if not os.path.isfile(os.path.join(ROOT, "investigraph_etl_spark", "lake", "table.py")):
        print(f"perfbench: no engine sources under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, prepare

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} (one of {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    # the fused-width override would pin the plan shape the workloads select
    os.environ.pop("SPARK_GRAFT_FUSED_WIDTH", None)

    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "py-tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "py-tmp")

    t0 = time.time()
    inputs = prepare(wl, args.seed, CACHE)
    gen_s = time.time() - t0

    spark = tracer = reads = None
    marks = {"start": t_proc, "generated": time.time()}
    checks = Checks()
    reps: list[dict] = []
    setup_s = peak_rss = live_heap = float("nan")
    try:
        from investigraph_etl_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{wl.name}", master=f"local[{CORES}]",
                          conf=_spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        marks["session"] = time.time()
        jvm_pid = _jvm_pid(spark)
        # Warm-up (untimed). A trickle run's warm-up is its table's first
        # epochs, and each timed drain appends the next ones. A bulk run
        # drains a separate smaller tail, which loads the classes and
        # generates the code, then the landing itself: the first drain of
        # 100k-event epochs still spends about twice the CPU of a later one
        # on compilation, and how much varies from run to run.
        if wl.trickle:
            stager = Stager(os.path.join(work, "landing"))
            table, pipe = open_stream(spark, wl, stager.landing, work, "run")
            stager.stage(inputs.epoch_files(0, wl.warmup_epochs))
            bounds = wl.boundaries()
            drain(pipe, jvm_pid)
        else:
            for tag, landing in (("warmup", inputs.warmup), ("warmup-full", inputs.landing)):
                _, pipe = open_stream(spark, wl, landing, work, tag)
                drain(pipe, jvm_pid)
        setup_s = time.time() - t_proc - gen_s
        marks["setup"] = time.time()

        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.install()
        t_measure = time.perf_counter()
        while True:
            i = len(reps)
            if wl.trickle:
                lo, hi = bounds[i] - wl.drain_epochs, bounds[i]
                stager.stage(inputs.epoch_files(lo, hi))
            else:
                lo, hi = 0, wl.n_epochs
                table, pipe = open_stream(spark, wl, inputs.landing, work, f"r{i}")
            # a traced run drains untraced, traced, untraced, so a drift that
            # is linear over the run cancels out of the tracing overhead
            traced = bool(args.trace) and i == 1
            v_before = table.version
            if tracer:
                tracer.enabled = traced
            rep = drain(pipe, jvm_pid)
            if tracer:
                tracer.enabled = False
            rep["traced"] = traced
            check_drain(wl, inputs, table, v_before, rep, lo, hi, f"drain {i}", checks)
            if traced:
                rep["layers"] = layer_metrics(spark, tracer, rep)
            reps.append(rep)
            elapsed = time.perf_counter() - t_measure
            # --seconds bounds the drains: stop when the next one would end
            # past it
            if (wl.trickle and len(reps) == len(bounds)) or (
                len(reps) >= 1 + 2 * args.trace and elapsed * (len(reps) + 1) / len(reps) > args.seconds
            ):
                break
        marks["drains"] = time.time()
        # Read latency is a per-layer figure: on a 4-core box it varied by
        # 15-35% (quartile spread) from run to run, beyond any bound the
        # end-to-end gate allows, so an untraced run reads once to check.
        if args.trace:
            warm_up_reads(wl, inputs, table, reps[-1]["last2_since"])
            marks["warmup_reads"] = time.time()
        reads = read_probes(wl, inputs, table, hi, reps[-1]["last2_since"], checks,
                            READ_REPEATS if args.trace else 1)
        marks["reads"] = time.time()
        peak_rss, live_heap = _jvm_peak_rss_mb(spark), _jvm_live_heap_mb(spark)
    except Exception:
        traceback.print_exc()
        checks.check(False, "run raised")
    finally:
        if tracer:
            tracer.uninstall()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        marks["stopped"] = time.time()
    if not reps or reads is None:
        return 1

    med = statistics.median
    plain = [r for r in reps if not r["traced"]]
    intervals = [x for r in plain for x in r["epoch_intervals"]]
    lookups = [t for _, t in reads["lookup"]]
    e2e = {
        "setup_s": setup_s,
        "ingest_events_per_s": sum(r["events"] for r in plain) / sum(r["ingest_s"] for r in plain),
        "epoch_latency_p50_s": med(intervals),
        "table_bytes_per_event": reps[-1]["table_bytes_per_event"],
        "jvm_peak_rss_mb": peak_rss,
        "jvm_live_heap_mb": live_heap,
    }
    artifact = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": CORES,
        # the hottest bucket's share of an epoch, as the engine measured it
        "input": inputs.meta["properties"] | {
            "max_bucket_share": max(e.get("max_bucket_share", 0.0) for r in reps for e in r["results"])
        },
        "timeline_s": {k: round(v - t_proc, 3) for k, v in marks.items()},
        "end_to_end": e2e,
        "epoch_latency": tail_summary(intervals),
        "point_lookup": tail_summary(lookups),
        "attempted": checks.attempted,
        "failed": checks.failed,
        "failed_ops_frac": checks.failed / max(1, checks.attempted),
        "drains": [
            {k: r[k] for k in ("ingest_s", "cpu_s", "steal_frac", "events", "epoch_intervals", "traced", "compactions")}
            | {"plan_shapes": [e.get("plan_shape") for e in r["results"]]}
            for r in reps
        ],
        "reads": reads,
    }
    if args.trace:
        traced = [r["layers"] for r in reps if r["traced"]]
        layers = {k: med([t[k] for t in traced]) for k in traced[0]}
        n_keys = len(inputs.meta["lookups"])
        mix_means = [statistics.fmean(lookups[i : i + n_keys]) for i in range(0, len(lookups), n_keys)]
        layers["lake.read_full_s"] = med(reads["read_full"])
        layers["lake.point_lookup_s"] = med(mix_means)
        layers["lake.changes_s"] = med(reads["changes"])
        layers["lake.point_files_pruned_ratio"] = reads["point_files_pruned_ratio"]
        layers["trace.overhead_frac"] = (
            med([r["ingest_s"] for r in reps if r["traced"]]) / med([r["ingest_s"] for r in plain]) - 1
        )
        artifact["per_layer"] = layers
        artifact["spans"] = [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent} for s in tracer.spans
        ]
    # the printed metrics are exactly those BENCHMARK.json declares
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = artifact["per_layer"] if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    correct = checks.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
