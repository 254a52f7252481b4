"""CDC ingest benchmark: one workload per run, outputs checked, metrics as JSON.

    python3 cdcbench/run.py --workload backlog_replay --seed 1 --seconds 24 --trace 0
    python3 cdcbench/run.py --self-test

Run from the repository root. Each run generates its inputs from the seed,
starts Spark on ``local[n]`` (n = min(2, nproc)), runs one untimed warm-up
cycle on a feed of the measured segment size, then as many whole measured
cycles as fill ``--seconds`` on a quiet host (at least one). A cycle applies the feed
(batches, or a stream drain), reads the fragmented table (lookups and
full scans), compacts it, and reads it again; every cycle is checked
against the generator's expected state. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``; a traced run also writes its spans under
``.cdcbench_out/``). See README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402

WORKLOADS = {
    # Many events per url, ~30% on 8 hot urls, two large batches. One WAL
    # segment per batch: the fanout delta write makes one file per bucket
    # per scan task, and Spark packs several small segments into tasks by
    # byte size, so with more segments than batches the files per commit
    # (and the fragmented scan time) would change with the seed.
    "backlog_replay": dict(
        spec=gen.Spec(n_events=18_000, n_urls=2_400, n_hot=8, hot_share=0.3,
                      delete_share=0.05, paragraphs=3, n_segments=2),
        mode="batch", n_batches=2, n_buckets=16, probes=(2, 1, 1), cycle_s=12,
    ),
    # Small one-file segments drained one file per trigger.
    "live_tail": dict(
        spec=gen.Spec(n_events=5_000, n_urls=2_000, n_hot=8, hot_share=0.1,
                      delete_share=0.05, paragraphs=2, n_segments=4),
        mode="stream", n_buckets=8, probes=(2, 1, 1), cycle_s=15,
    ),
}
WARMUP_SEGMENTS = 2  # the warm-up feed: this many segments of the feed's size
SCANS = {"fragmented": 3, "compacted": 6}  # full scans per phase and cycle
WARMUP_SCANS = {"fragmented": 1, "compacted": 1}
READ_FILES = {  # per-layer metric: files one full scan of the phase reads
    "fragmented": "lake.table.read_files_scanned",
    "compacted": "lake.table.read_files_scanned_compacted",
}

E2E_UNITS = {
    "setup_s": "s",
    "apply_events_per_s": "events/s",
    "epoch_p50_s": "s",
    "compact_s": "s",
    "stored_bytes_per_row": "bytes/row",
    "lookup_p50_ms": "ms",
    "lookup_compacted_p50_ms": "ms",
    "scan_s": "s",
    "scan_compacted_s": "s",
}


def _workdir() -> str:
    return os.path.join(os.getcwd(), ".cdcbench_work", str(os.getpid()))


def _start_spark(work: str, parallelism: int):
    from data_pipeline_spark import session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return session.get_spark(
        app_name="cdcbench",
        parallelism=parallelism,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # C1 only: JIT compilation is cheap and mostly done in the
            # warm-up, not in C2 background threads competing with the
            # measured cycles for the same cores. The heap starts at its
            # full size, so G1 does not grow it during the measurement.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -Xms1g",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _jobs_so_far(spark) -> int:
    """Jobs started so far: the highest job id + 1 (the status store lists
    jobs newest first)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return jobs.head().jobId() + 1 if jobs.nonEmpty() else 0


class Cycle:
    """One ingest cycle of a workload over a fresh table."""

    def __init__(self, spark, feed: gen.Feed, wal_dir: str, cfg: dict,
                 seed: int, tracer=None, checked=True):
        self.spark, self.feed, self.wal = spark, feed, wal_dir
        self.checked = checked
        self.cfg, self.tracer = cfg, tracer
        self.probes = gen.probe_keys(feed, seed, *cfg["probes"])
        self.scans = cfg.get("scans", SCANS)
        self.problems: list[str] = []
        self.ops = 0
        self.samples: dict[str, list[float]] = {}  # end-to-end metric -> samples
        self.layer: dict[str, float] = {}

    # -- operations ------------------------------------------------------

    def _apply_batches(self, table):
        from pyspark.sql import functions as F

        from data_pipeline_spark import pipeline

        log = self.spark.read.parquet(self.wal)
        ranges = gen.batch_ranges(self.feed, self.cfg["n_batches"])
        times = []
        t0 = time.perf_counter()
        for i, (lo, hi) in enumerate(ranges):
            t = time.perf_counter()
            pipeline.apply_batch(
                table,
                log.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)),
                commit_key=f"replay-{i}",
            )
            times.append(time.perf_counter() - t)
        return time.perf_counter() - t0, times, ranges

    def _apply_stream(self, table, ckpt: str):
        from data_pipeline_spark.streaming import pipeline as stream

        t0 = time.perf_counter()
        q = stream.run_stream(self.spark, self.wal, table.root, ckpt,
                              n_buckets=self.cfg["n_buckets"])
        q.awaitTermination(150)
        elapsed = time.perf_counter() - t0
        if q.isActive or q.exception() is not None:
            raise RuntimeError(f"stream did not drain: {q.exception()}")
        prog = q.recentProgress
        self.progress = [p["durationMs"] for p in prog if p["numInputRows"]]
        times = [d["triggerExecution"] / 1000.0 for d in self.progress]
        ranges = gen.segment_ranges(self.feed, self.cfg["spec"].n_segments)
        return elapsed, times, ranges

    def _lookup(self, table, phase: str, url: str, kind: str) -> float:
        from checks import check_lookup, lookup_rows

        j0 = _jobs_so_far(self.spark) if self.tracer else 0
        t = time.perf_counter()
        df = table.lookup([url])
        rows = lookup_rows(df)
        ms = (time.perf_counter() - t) * 1000.0
        if self.tracer:
            self._add("spark.lookup_jobs", _jobs_so_far(self.spark) - j0)
            self._add("lake.table.lookup_files", len(df.inputFiles()))
        self.problems += [f"{phase}: {p}" for p in
                          check_lookup(url, kind, rows, self.feed)]
        self.ops += 1
        return ms

    def _scan(self, table, phase: str) -> float:
        """One full scan: a fresh ``read()`` forced by a noop write."""
        t = time.perf_counter()
        df = table.read()
        df.write.format("noop").mode("overwrite").save()
        s = time.perf_counter() - t
        if self.tracer:
            self.layer[READ_FILES[phase]] = len(df.inputFiles())
        self.ops += 1
        return s

    def _reads(self, table, phase: str) -> tuple[list[float], list[float]]:
        """Lookup times (ms) and full-scan times (s) of the phase. Lookups
        and scans alternate, so a burst of slowness on the shared host
        lands on samples of both rather than on a run of one kind."""
        lookups, scans = [], []
        for i in range(max(len(self.probes), self.scans[phase])):
            if i < len(self.probes):
                lookups.append(self._lookup(table, phase, *self.probes[i]))
            if i < self.scans[phase]:
                scans.append(self._scan(table, phase))
        return lookups, scans

    def _read_since(self, table) -> list[str]:
        from checks import check_read_since

        if not self.checked:
            return []
        self.ops += 1
        return check_read_since(table, self.feed)

    def _add(self, k: str, v: float) -> None:
        self.layer[k] = self.layer.get(k, 0.0) + v

    def _checked(self, fn, *args):
        """Run a check with tracing paused (checks are not operations)."""
        if not self.checked:
            return []
        if self.tracer:
            self.tracer.paused = True
        try:
            return fn(*args)
        finally:
            if self.tracer:
                self.tracer.paused = False

    # -- the cycle ---------------------------------------------------------

    def run(self, root: str):
        from checks import check_compacted, check_flow, check_state
        from data_pipeline_spark import pipeline

        cfg = self.cfg
        table = pipeline.ensure_table(self.spark, os.path.join(root, "table"),
                                      cfg["n_buckets"])
        j0 = _jobs_so_far(self.spark) if self.tracer else 0
        if cfg["mode"] == "stream":
            ckpt = os.path.join(root, "ckpt")
            elapsed, epochs, ranges = self._apply_stream(table, ckpt)
        else:
            elapsed, epochs, ranges = self._apply_batches(table)
        self.ops += len(epochs)
        self.ranges = ranges
        if self.tracer:
            self.layer["spark.jobs_per_epoch"] = (
                (_jobs_so_far(self.spark) - j0) / len(epochs))
            self.layer["epochs"] = len(epochs)
        m = self.samples
        m["apply_events_per_s"] = [self.feed.events.num_rows / elapsed]
        m["epoch_p50_s"] = epochs
        self.problems += self._checked(check_state, table, self.feed)
        self.problems += self._checked(check_flow, table, self.feed, ranges)
        self.problems += self._read_since(table)
        m["lookup_p50_ms"], m["scan_s"] = self._reads(table, "fragmented")

        before = table.current()
        t = time.perf_counter()
        table.compact("bench-compact")
        m["compact_s"] = [time.perf_counter() - t]
        self.ops += 1
        after = table.current()
        if self.tracer:
            self._compaction_layer(table, before, after)

        self.problems += self._checked(check_compacted, table)
        self.problems += self._checked(check_state, table, self.feed)
        self.problems += self._read_since(table)
        m["lookup_compacted_p50_ms"], m["scan_compacted_s"] = (
            self._reads(table, "compacted"))
        stored = sum(e.get("bytes") or os.path.getsize(
            os.path.join(table.root, e["path"]))
            for es in table.all_entries(after).values() for e in es)
        m["stored_bytes_per_row"] = [stored / len(self.feed.expected)]
        if cfg["mode"] == "stream":
            self.problems += self._checked(self._restart_noop, table, ckpt)
        if self.tracer:
            self._commit_layer(table)
        return self

    def _restart_noop(self, table, ckpt: str) -> list[str]:
        """Restarting the stream on its checkpoint commits nothing new."""
        from data_pipeline_spark.streaming import pipeline as stream

        v = table.current().version
        q = stream.run_stream(self.spark, self.wal, table.root, ckpt,
                              n_buckets=self.cfg["n_buckets"])
        q.awaitTermination(120)
        v2 = table.current().version
        return [] if v2 == v else [f"stream restart committed {v2 - v} snapshots"]

    # -- per-layer figures read from the table's own metadata ------------

    def _compaction_layer(self, table, before, after) -> None:
        eb, ea = table.all_entries(before), table.all_entries(after)
        changed = [b for b in ea if [e["path"] for e in ea[b]]
                   != [e["path"] for e in eb.get(b, [])]]
        self.layer["lake.table.compact_files_in"] = sum(len(eb[b]) for b in changed)
        self.layer["lake.table.compact_files_out"] = sum(len(ea[b]) for b in changed)
        self.layer["lake.table.compact_bytes_rewritten"] = sum(
            os.path.getsize(os.path.join(table.root, e["path"]))
            for b in changed for e in ea[b])

    def _commit_layer(self, table) -> None:
        merges = [s for s in table.snapshot_log() if s.summary.get("op") == "merge"]
        added = [os.path.join(table.root, p) for s in merges
                 for ps in s.summary["added"].values() for p in ps]
        self.layer["lake.table.commit_write_s"] = sum(
            s.summary["t_write_s"] for s in merges)
        self.layer["lake.table.commit_meta_s"] = sum(
            s.summary["t_meta_s"] for s in merges)
        self.layer["lake.table.files_per_commit"] = len(added) / len(merges)
        self.layer["lake.table.bytes_written_per_event"] = sum(
            os.path.getsize(p) for p in added) / self.feed.events.num_rows
        from checks import commit_metrics

        self.layer["pipeline.winners_out"] = sum(
            r["events_applied"] for r in commit_metrics(table.root))
        self.layer["pipeline.events_in"] = self.feed.events.num_rows
        self.layer["extraction.rows"] = sum(
            gen.extract_rows_between(self.feed, lo, hi) for lo, hi in self.ranges)
        if self.cfg["mode"] == "stream":
            for key, name in STREAM_FIELDS.items():
                self.layer[name] = statistics.median(d.get(key, 0) for d in self.progress)


STREAM_FIELDS = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}



# -- per-layer metrics of a traced run -----------------------------------

SPAN_TOTALS = {  # metric -> (span name, "total_s" | "self_s")
    "pipeline.apply_batch_s": ("pipeline.apply_batch", "total_s"),
    "pipeline.apply_batch_self_s": ("pipeline.apply_batch", "self_s"),
    "lake.merge.merge_into_s": ("lake.merge.merge_into", "total_s"),
    "lake.table.current_s": ("lake.table.current", "total_s"),
    "lake.table.lookup_s": ("lake.table.lookup", "total_s"),
    "lake.table.read_s": ("lake.table.read", "total_s"),
    "lake.table.read_since_s": ("lake.table.read_since", "total_s"),
    "lake.table.compact_s": ("lake.table.compact", "total_s"),
    "streaming.reread_wal_paths_s": ("streaming.reread_wal_paths", "total_s"),
    "metrics.record_commit_s": ("metrics.record_commit", "total_s"),
}
PER_LAYER = [
    "session.get_spark_s", *SPAN_TOTALS, "pipeline.events_in",
    "pipeline.winners_out", "lake.table.commit_write_s",
    "lake.table.commit_meta_s", "lake.table.files_per_commit",
    "lake.table.bytes_written_per_event", "lake.table.current_calls_per_epoch",
    "lake.table.lookup_files_scanned", "spark.jobs_per_lookup",
    *READ_FILES.values(), "lake.table.compact_files_in",
    "lake.table.compact_files_out", "lake.table.compact_bytes_rewritten",
    *STREAM_FIELDS.values(), "spark.jobs_per_epoch", "extraction.rows",
]
LAYER_UNITS = {"_s": "s", "_ms": "ms"}


def _layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    if name.endswith("per_event"):
        return "bytes/event"
    if name.endswith("bytes_rewritten"):
        return "bytes"
    return "count"


def _current_calls_in_apply(tracer, since: float) -> int:
    """``LakeTable.current`` calls made inside ``apply_batch`` spans."""
    by_id = {s["id"]: s for s in tracer.spans}
    n = 0
    for s in tracer.spans:
        if s["name"] != "lake.table.current" or s["start"] < since:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != "pipeline.apply_batch":
            p = by_id[p]["parent"]
        n += p is not None
    return n


def layer_metrics(tracer, cycles: list[Cycle], since: float) -> dict[str, float]:
    """Per-layer figures per measured cycle (means over the cycles)."""
    k = len(cycles)
    tot = tracer.totals(since)
    out = {m: tot.get(span, {}).get(field, 0.0) / k
           for m, (span, field) in SPAN_TOTALS.items()}
    out["session.get_spark_s"] = tracer.totals().get(
        "session.get_spark", {}).get("total_s", 0.0)
    layer = {key: sum(c.layer.get(key, 0.0) for c in cycles) / k
             for c in cycles for key in c.layer}
    n_lookups = sum(len(c.probes) for c in cycles) * 2 / k
    out["lake.table.lookup_files_scanned"] = layer.pop(
        "lake.table.lookup_files") / n_lookups
    out["spark.jobs_per_lookup"] = layer.pop("spark.lookup_jobs") / n_lookups
    out["lake.table.current_calls_per_epoch"] = (
        _current_calls_in_apply(tracer, since) / k / layer.pop("epochs"))
    out.update(layer)
    for name in STREAM_FIELDS.values():
        out.setdefault(name, 0.0)
    return out


# -- entry point -----------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="show that the output checks fail on a corrupted table")
    args = ap.parse_args()
    if not args.self_test and args.workload is None:
        ap.error("--workload is required")

    import data_pipeline_spark  # noqa: F401  (fail fast without the program)

    work = _workdir()
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    spark = None
    try:
        if args.self_test:
            import selftest

            spark = _start_spark(work, min(2, os.cpu_count() or 1))
            return selftest.run(spark, work)
        result, spark = run_workload(args, work)
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to
    exit: the JVM leaves when its stdin pipe closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def pooled_medians(cycles: list[Cycle]) -> dict[str, float]:
    """Per end-to-end metric, the median of its samples over all cycles."""
    return {k: statistics.median(v for c in cycles for v in c.samples[k])
            for k in cycles[0].samples}


def _log(what: str, c: Cycle) -> None:
    t = time.perf_counter() - T_START
    figs = " ".join(f"{k}={v:.4g}" for k, v in pooled_medians([c]).items())
    print(f"[{t:7.1f}s] {what}: {figs}", file=sys.stderr, flush=True)


# No measured cycle starts this late in a run (seconds since process start),
# so a run on a host slowed several-fold still ends within three minutes.
LAST_CYCLE_START_S = 100


def n_cycles(cfg: dict, seconds: float) -> int:
    """Measured cycles of a run: as many as fill ``seconds`` on a quiet
    host (``cycle_s`` each), at least one. The count does not follow the
    host's speed, so every run takes the same samples (unless it passes
    ``LAST_CYCLE_START_S``)."""
    return max(1, math.ceil(seconds / cfg["cycle_s"]))


def run_workload(args, work: str):
    cfg = WORKLOADS[args.workload]
    tracer = None
    if args.trace:
        from tracing import Tracer, instrument

        tracer = Tracer()
        instrument(tracer)

    spec = cfg["spec"]
    feed = gen.generate(spec, args.seed)
    wal = os.path.join(work, "wal")
    gen.write_segments(feed, wal, spec.n_segments)
    # The warm-up feed has segments (and batches) of the measured feed's
    # size: on a smaller feed the first measured cycle still ran 10-35%
    # slower than later ones.
    frac = WARMUP_SEGMENTS / spec.n_segments
    warm_spec = gen.Spec(**{**spec.__dict__,
                            "n_events": round(spec.n_events * frac),
                            "n_urls": round(spec.n_urls * frac),
                            "n_segments": WARMUP_SEGMENTS})
    warm_feed = gen.generate(warm_spec, args.seed + 1_000_003)
    warm_wal = os.path.join(work, "warm-wal")
    gen.write_segments(warm_feed, warm_wal, warm_spec.n_segments)

    spark = _start_spark(work, min(2, os.cpu_count() or 1))
    # Untimed warm-up: one unchecked cycle on the warm-up feed, so JIT
    # compilation and Python worker start-up stay out of the timed cycles.
    warm = Cycle(spark, warm_feed, warm_wal,
                 {**cfg, "spec": warm_spec, "probes": (1, 0, 0),
                  "scans": WARMUP_SCANS},
                 args.seed + 1, checked=False)
    warm.run(os.path.join(work, "warm"))
    _log("warm-up", warm)
    setup_s = time.perf_counter() - T_START

    cycles: list[Cycle] = []
    t0 = time.perf_counter()
    for _ in range(n_cycles(cfg, args.seconds)):
        if cycles and time.perf_counter() - T_START > LAST_CYCLE_START_S:
            print("run too slow: further measured cycles skipped",
                  file=sys.stderr, flush=True)
            break
        c = Cycle(spark, feed, wal, cfg, args.seed, tracer)
        cycles.append(c.run(os.path.join(work, f"cycle-{len(cycles)}")))
        _log(f"cycle {len(cycles)}", c)
    problems = warm.problems + [p for c in cycles for p in c.problems]
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    e2e = pooled_medians(cycles)
    e2e["setup_s"] = setup_s
    if tracer is not None:
        tracer.unwrap_all()
        values = layer_metrics(tracer, cycles, t0)
        metrics = {k: {"value": values[k], "unit": _layer_unit(k)}
                   for k in PER_LAYER}
        out_dir = os.path.join(os.getcwd(), ".cdcbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(
            out_dir, f"trace-{args.workload}-{args.seed}.json"),
            extra={"end_to_end": e2e, "per_layer": values})
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    result = {
        "correct": not problems,
        "attempted": sum(c.ops for c in cycles),
        "failed": 0,
        "metrics": metrics,
    }
    return result, spark


if __name__ == "__main__":
    sys.exit(main())
