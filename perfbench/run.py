"""Layered benchmark of the transcript extraction engine.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 12 --trace 0

One closed loop (one client, one job at a time) in a single
``local[nproc]`` session.  The run generates its inputs from the seed
(once, untimed), measures set-up, a cold pass and ``--seconds`` of warm
passes of the workload's unit of work, checks the outputs, writes one
machine-readable record under ``.perfbench/records/`` and prints, as
its last stdout line, ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  It exits non-zero on any correctness mismatch.

``--write-manifest`` rewrites BENCHMARK.json from metrics.py.
See README.md in this directory for what each metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import core_profile  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

RECORD_SCHEMA = "perf-run-record"
RECORD_SCHEMA_VERSION = 1
RUN_SECONDS = 16

SETUP_SAMPLES = 3          # median of this many cold set-ups per run
MIN_WARM_PASSES = 2        # per kind (untraced, traced) even if --seconds is short
LADDER_REPS = 1
CORE_SAMPLE = 1500         # payloads replayed single-process per trace run
CONV_SAMPLE = 24           # conversations re-checked per run
DRIVER_HEAP_FRAC = 0.15    # of MemTotal; the engine's 16g default exceeds small hosts
RSS_INTERVAL_S = 0.2

_TINY_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string"
_NO_TRACE = Tracer("", enabled=False)


def host_info() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_kb,
        "spark": pyspark.__version__,
        "arrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def git_commit() -> str | None:
    """HEAD of the checkout, read from .git without running git; None
    when the benchmark runs outside a git repository."""
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).exists():
            return (git / ref).read_text().strip()
        for ln in (git / "packed-refs").read_text().splitlines():
            if ln.endswith(" " + ref):
                return ln.split()[0]
    except OSError:
        pass
    return None


def configure_env(work: Path, host: dict) -> Path:
    """Point every temp and scratch path of Spark, the JVM and Python
    workers inside the checkout, size the driver heap from MemTotal, and
    let Python workers import the engine from the checkout.

    The heap is committed and touched at JVM start (-Xms = -Xmx plus
    AlwaysPreTouch): otherwise the driver's resident set follows G1's
    lazy heap growth, which varied by 40% between runs of one seed."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    heap_mb = max(1024, int(host["mem_total_kb"] * DRIVER_HEAP_FRAC / 1024))
    os.environ.update({
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        # every JVM, the spark-submit launcher included, keeps its temp
        # files and perf data out of /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Xms{heap_mb}m -XX:+AlwaysPreTouch" pyspark-shell'
        ),
    })
    return tmp


def start_session(nproc: int):
    """get_spark plus the first tiny extraction, so Python workers exist.
    Returns (spark, get_spark seconds, worker warm-up seconds)."""
    from medical_ocr_pipeline_spark.pipeline import extract_transcripts
    from medical_ocr_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", master=f"local[{nproc}]")
    t1 = time.perf_counter()
    tiny = spark.createDataFrame(
        [("warmup", 0, "user", "hello there\nsee you soon", None)], _TINY_SCHEMA
    )
    extract_transcripts(tiny).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers) to exit; the next get_spark launches a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver JVM and Python workers), sampled from /proc."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop_evt = threading.Event()

    @staticmethod
    def _pss_kb(pid: str) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for ln in f:
                if ln.startswith("Pss:"):
                    return int(ln.split()[1])
        return 0

    def _tree(self) -> dict[str, int]:
        """Resident kB of the process tree, by command name.  Proportional
        set size, so pages a forked helper shares with the JVM count once."""
        parent: dict[int, int] = {}
        comm: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue
            parent[int(d)] = int(tail.split()[1])
            comm[int(d)] = head.split("(", 1)[1]
        me = os.getpid()
        out: dict[str, int] = {}
        for pid in comm:
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p != me:
                continue
            try:
                kb = self._pss_kb(str(pid))
            except OSError:
                continue
            out[comm[pid]] = out.get(comm[pid], 0) + kb
        return out

    def run(self) -> None:
        while not self._stop_evt.wait(RSS_INTERVAL_S):
            tree = self._tree()
            total = sum(tree.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_by_comm = total, tree

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024


class Run:
    """Everything one benchmark run measures and checks."""

    def __init__(self, args, host: dict, work: Path, tmp: Path) -> None:
        self.args = args
        self.host = host
        self.work = work
        self.tmp = tmp
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
        self.tracer = Tracer(self.run_id, enabled=bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.checksums: dict[str, str] = {}
        self.out = work / "out" / self.run_id
        self.passes: dict = {}
        self.phases: dict[str, float] = {}
        self._t0 = time.perf_counter()

    def phase(self, name: str) -> None:
        """Mark the end of a run phase (seconds since the run started)."""
        self.phases[name] = time.perf_counter() - self._t0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def warm_loop(self, one_pass):
        """Closed loop for --seconds: untraced passes, and with --trace 1
        traced passes interleaved with them in U T T U order, so a drift
        over the loop weighs on both kinds alike.  Returns (untraced,
        traced)."""
        untraced: list = []
        traced: list = []
        t0 = time.perf_counter()
        while True:
            use_trace = self.tracer.enabled and (len(untraced) + len(traced)) % 4 in (1, 2)
            res = one_pass(self.tracer if use_trace else _NO_TRACE)
            (traced if use_trace else untraced).append(res)
            enough = len(untraced) >= MIN_WARM_PASSES and (
                not self.tracer.enabled or len(traced) >= MIN_WARM_PASSES
            )
            if enough and time.perf_counter() - t0 >= self.args.seconds:
                return untraced, traced

    def check_across_runs(self, key: str, value: str) -> bool:
        """The output checksum must be identical across runs of the same
        workload, seed and generator."""
        path = self.work / "checksums.json"
        known = json.loads(path.read_text()) if path.exists() else {}
        if key in known:
            return known[key] == value
        known[key] = value
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(known, indent=1, sort_keys=True))
        tmp.replace(path)
        return True

    def trace_self_times(self) -> None:
        per_pass = self.tracer.self_times("pass")
        for name, _ in metrics.SPANS:
            self.layer[f"trace.self.{name}_s"] = statistics.median(
                p.get(name, 0.0) for p in per_pass
            ) if per_pass else 0.0

    # -- extraction workloads ---------------------------------------------

    def extract(self, spark, inp: inputs.Inputs, sampler: RssSampler) -> None:
        out = str(self.out)
        p01, p02 = f"{out}/01_extracted", f"{out}/02_conversations"

        def one_pass(tracer):
            self.attempted += 3
            return workloads.job_pass(spark, inp.path, out, self.run_id, tracer)

        cold = one_pass(_NO_TRACE)
        self.phase("cold")
        cold_ck = [workloads.stage_checksum(spark, p) for p in (p01, p02)]
        warm, traced = self.warm_loop(one_pass)
        self.e2e["peak_rss_mb"] = sampler.stop()
        self.phase("warm")
        self.passes = {"cold": cold, "warm": warm, "traced": traced}

        last_ck = [workloads.stage_checksum(spark, p) for p in (p01, p02)]
        gen = inputs.generator_hash()
        for stage, a, b in zip(("01_extracted", "02_conversations"), cold_ck, last_ck):
            self.checksums[stage] = b
            if a != b:
                self.fail(f"{stage} checksum differs between passes")
            elif not self.check_across_runs(
                f"{self.args.workload}:{self.args.seed}:{gen}:{stage}", b
            ):
                self.fail(f"{stage} checksum differs from an earlier run of this seed")
        convs = inputs.sample(inp.keys, CONV_SAMPLE, self.args.seed, "convs")
        n_checked, turn_bad, conv_bad = workloads.check_extract(out, inp.path, convs)
        if turn_bad:
            self.fail(f"{turn_bad}/{n_checked} sampled turns differ from extract_turn")
        if conv_bad:
            self.fail(f"{conv_bad}/{len(convs)} sampled conversations differ")

        med = {k: statistics.median(p[k] for p in warm) for k in warm[0]}
        self.e2e["cold_s"] = cold["pass_s"]
        self.e2e["warm_s"] = med["pass_s"]
        self.e2e["turns_per_s"] = inp.rows / med["stage01_s"]
        self.phase("checks")
        if self.tracer.enabled:
            self.extract_layers(spark, inp, out, warm + traced, traced)
            self.phase("layers")

    def extract_layers(self, spark, inp, out: str, passes: list, traced: list) -> None:
        from medical_ocr_pipeline_spark.pipeline import assembly_regime

        nproc = self.host["nproc"]
        L = workloads.ladder(spark, inp.path, LADDER_REPS)
        self.attempted += 3 * LADDER_REPS
        med = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
        nbytes, nfiles = stage_files(f"{out}/01_extracted")
        t0 = time.perf_counter()
        _bucket, max_state = assembly_regime(spark.read.parquet(f"{out}/01_extracted"))
        probe_s = time.perf_counter() - t0
        self.attempted += 1

        core, drift = core_profile.profile(
            inputs.read_text_sample(inp.path, CORE_SAMPLE, self.args.seed)
        )
        if drift:
            self.fail(f"staged core replay differs from extract_turn on {drift} turns")
        core_us = core["core.extract.us_per_turn"]
        self.layer.update({
            "ladder.scan_s": L["L0"],
            "ladder.arrow_roundtrip_s": L["L1"] - L["L0"],
            "pipeline.extract_transcripts_s": L["L2"],
            "pipeline.write_stage_s": med["stage01_s"] - L["L2"],
            "pipeline.write_stage_bytes": nbytes,
            "pipeline.write_stage_files": nfiles,
            "pipeline.partition_metrics_s": med["partition_metrics_s"],
            "pipeline.conversation_text_s": med["conversation_text_s"],
            "pipeline.assembly_regime_probe_s": probe_s,
            "pipeline.conversations": int(self.checksums["02_conversations"].split(":")[0]),
            "pipeline.max_conv_state_bytes": max_state,
            "pipeline.non_core_s": L["L2"] - inp.rows * core_us * 1e-6 / nproc,
            "pipeline.core_efficiency": self.e2e["turns_per_s"] / (nproc * 1e6 / core_us),
            **core,
        })
        self.layer["trace.overhead_frac"] = (
            statistics.median(p["pass_s"] for p in traced) / self.e2e["warm_s"] - 1.0
        )
        self.trace_self_times()

    # -- curation workload ------------------------------------------------

    def curation(self, spark, inp: inputs.Inputs, sampler: RssSampler) -> None:
        names = list(workloads.CURATION_QUERIES)
        random.Random(f"{self.args.seed}:order").shuffle(names)

        def one_pass(tracer):
            self.attempted += len(names)
            return workloads.query_pass(spark, inp.path, names, tracer)

        cold_s, cold_per, cold_res = one_pass(_NO_TRACE)
        self.phase("cold")
        blocks_after = workloads.cached_blocks(spark)
        cold_h = {n: workloads.value_hash(df) for n, df in cold_res.items()}
        del cold_res

        def checked_pass(tracer):
            total, per, res = one_pass(tracer)
            for n, df in res.items():
                if workloads.value_hash(df) != cold_h[n]:
                    self.fail(f"{n}: warm result differs from the cold pass")
            return total, per

        warm, traced = self.warm_loop(checked_pass)
        self.e2e["peak_rss_mb"] = sampler.stop()
        self.phase("warm")
        self.passes = {"cold": [cold_s, cold_per], "warm": warm, "traced": traced}

        want = workloads.oracle_hashes(inp.path, names, str(self.tmp))
        for n in names:
            if cold_h[n] != want[n]:
                self.fail(f"{n}: result differs from its DuckDB oracle")
        combined = workloads.value_hash_of(cold_h)
        self.checksums["query_set"] = combined
        gen = inputs.generator_hash()
        if not self.check_across_runs(f"{self.args.workload}:{self.args.seed}:{gen}", combined):
            self.fail("query results differ from an earlier run of this seed")
        self.phase("checks")

        warm_s = statistics.median(t for t, _ in warm)
        self.e2e["cold_s"] = cold_s
        self.e2e["warm_s"] = warm_s
        # document rows through the query set per second of a warm pass
        self.e2e["turns_per_s"] = inp.rows * len(names) / warm_s
        if self.tracer.enabled:
            for n in names:
                self.layer[f"queries.{n}_s"] = statistics.median(p[n] for _, p in warm)
            self.layer["queries.cached_blocks_after"] = blocks_after
            self.layer["trace.overhead_frac"] = (
                statistics.median(t for t, _ in traced) / warm_s - 1.0
            )
            self.trace_self_times()


def stage_files(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files of a written stage."""
    names = [n for n in os.listdir(path) if n.startswith("part-")]
    return sum(os.path.getsize(os.path.join(path, n)) for n in names), len(names)


def bench(args) -> int:
    host = host_info()
    work = ROOT / ".perfbench"
    tmp = configure_env(work, host)
    run = Run(args, host, work, tmp)
    inp = inputs.make_inputs(args.workload, args.seed, work, host["nproc"])
    run.phase("inputs")

    # every set-up launches a fresh JVM and fresh Python workers; the
    # last one's session runs the workload
    setups = []
    for i in range(SETUP_SAMPLES):
        if i == SETUP_SAMPLES - 1:
            sampler = RssSampler()
            sampler.start()
        spark, get_spark_s, warmup_s = start_session(host["nproc"])
        setups.append((get_spark_s, warmup_s))
        if i < SETUP_SAMPLES - 1:
            stop_session(spark)
    run.phase("setup")
    try:
        input_partitions = spark.read.parquet(
            inp.path if args.workload != "curation_queries"
            else os.path.join(inp.path, "documents.parquet")
        ).rdd.getNumPartitions()
        if args.workload == "curation_queries":
            run.curation(spark, inp, sampler)
        else:
            run.extract(spark, inp, sampler)
    finally:
        if sampler.is_alive():
            sampler.stop()
        stop_session(spark)
        shutil.rmtree(run.out, ignore_errors=True)
    run.phase("stop")
    run.e2e["setup_s"] = statistics.median(a + b for a, b in setups)
    failed_frac = run.failed / run.attempted
    if args.trace:
        run.layer["session.get_spark_s"] = statistics.median(a for a, _ in setups)
        run.layer["session.worker_warmup_s"] = statistics.median(b for _, b in setups)
        run.layer["failed_frac"] = failed_frac
        # a layer this workload does not exercise reads 0
        for name, *_ in metrics.PER_LAYER:
            run.layer.setdefault(name, 0.0)

    units = {n: u for n, u, *_ in metrics.END_TO_END + metrics.PER_LAYER}
    reported = run.layer if args.trace else run.e2e
    shown = {**run.e2e, **run.layer, "failed_frac": failed_frac}
    for name in [n for n, *_ in metrics.END_TO_END] + sorted(set(shown) - set(run.e2e)):
        print(f"{name:44s} {shown[name]:>16.6g} {units[name]}")
    for f in run.failures:
        print(f"FAILED: {f}")

    record = {
        "schema": RECORD_SCHEMA,
        "schema_version": RECORD_SCHEMA_VERSION,
        "kind": "bench",
        "run_id": run.run_id,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "git_commit": git_commit(),
        "host": host,
        "input": {"path": os.path.relpath(inp.path, ROOT), "rows": inp.rows,
                  "partitions": input_partitions,
                  "generator": inputs.generator_hash()},
        "checksums": run.checksums,
        "setups": setups,
        "passes": run.passes,
        "phases": run.phases,
        "peak_rss_kb_by_command": sampler.peak_by_comm,
        "attempted": run.attempted,
        "failed": run.failed,
        "failures": run.failures,
        "metrics": [
            {"name": n, "unit": units[n], "value": v,
             "workload": args.workload, "seed": args.seed}
            for n, v in shown.items()
        ],
        "spans": run.tracer.spans,
    }
    rec_dir = work / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    rec_path = rec_dir / f"{run.run_id}.json"
    rec_path.write_text(json.dumps(record, indent=1))
    print(f"record: {os.path.relpath(rec_path, ROOT)}")

    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": reported[n], "unit": units[n]} for n in reported},
    }))
    return 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-manifest", action="store_true",
                    help="rewrite BENCHMARK.json from metrics.py and exit")
    args = ap.parse_args(argv)
    if args.write_manifest:
        (ROOT / "BENCHMARK.json").write_text(
            json.dumps(metrics.manifest(RUN_SECONDS), indent=2) + "\n"
        )
        return 0
    if not args.workload:
        ap.error("--workload is required")
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
