#!/usr/bin/env python3
"""Layered benchmark of the engine: closed-loop workloads, each a single
driver thread issuing one query after another on ``local[$(nproc)]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_stream --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``olap_stream`` and ``llm_mr``.

One run:

1. generates the workload's inputs from ``--seed`` under
   ``perfbench/.work/`` (reported as ``gen_s``, not part of any metric);
2. sets up: ``get_spark()``, registry import, then one untimed warm-up pass
   on the same full-size inputs, whose outputs are collected for the
   correctness check (``setup_s``);
3. measures: whole timed passes until ``--seconds`` have elapsed and at
   least ``MIN_PASSES`` passes have run, so that ``pass_s`` is never the
   first timed pass alone (it still runs slower than the rest while the
   JIT finishes compiling);
4. checks the warm-up outputs against the DuckDB oracles and exact
   invariants, and the MapReduce output files of the last timed pass;
5. prints each metric with its unit, then, as the last line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` is the separate traced run: it enables Spark's uncompressed
event log and a streaming-query listener on its own session, labels every
job with ``setJobDescription``, and reports the per-layer metrics. It also
writes the run's spans and per-query accounting to
``perfbench/.work/traces/<workload>-s<seed>.json`` and checks, for every
query, that plan_s + exec_s is within 5% of its wall time and that
in_jobs_s + driver_gap_s equals it.

``attempted`` counts timed query executions plus correctness checks;
``failed`` counts those that raised or returned a wrong answer
(``failed_frac`` = failed / attempted).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.path.insert(1, REPO)

import check  # noqa: E402
import layers  # noqa: E402
from workloads import MR_OUTPUT_FILES, WORKLOADS, Inputs, Workload, tiny  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
}
# Printed with the end-to-end metrics but not one of them: the RocksDB
# state-store instances of the streaming joins stay resident for a
# timing-dependent while, so identical olap_stream runs peaked anywhere
# between 3.0 and 5.8 GB.
INFO_UNITS = {"peak_rss_mb": "MB"}
MIN_PASSES = 2


def log(msg: str) -> None:
    print(msg, flush=True)


# ---------------------------------------------------------------------------
# Environment
# ---------------------------------------------------------------------------


def prepare_env(trace_on: bool, work: str) -> None:
    """Environment for the Spark JVM and its Python workers: the repository
    root on every worker's import path, all scratch space inside the
    checkout, ``local[$(nproc)]`` unless ``SPARK_GRAFT_CPUS`` says
    otherwise, and for traced runs the event log."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # A fixed 2 GB driver heap (initial = maximum): G1 grows an 8 GB heap by
    # as much as it likes, so peak RSS varied 2x between identical runs.
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{heap}"]
    if trace_on:
        args += layers.event_log_conf(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def host_probe():
    """``bench.py``'s /proc/stat steal/load snapshot."""
    from bench import _cpu_probe

    return _cpu_probe()


def probe_delta(p0: dict, p1: dict) -> dict:
    d = {k: p1[k] - p0[k] for k in ("user", "system", "idle", "iowait", "steal", "total")}
    d["steal_over_user"] = round(d["steal"] / d["user"], 4) if d["user"] > 0 else 0.0
    d["load1_start"], d["load1_end"] = p0["load1"], p1["load1"]
    return d


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and the Python workers), sampled every 0.5 s while running."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(0.5)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


# ---------------------------------------------------------------------------
# Steps
# ---------------------------------------------------------------------------


class Runner:
    """Runs the steps of one workload on one session."""

    def __init__(self, spark, w: Workload, inputs: Inputs, traced: bool, tracker):
        from mapreduce_infrastructure_spark.registry import all_queries

        self.spark, self.w, self.inputs = spark, w, inputs
        self.traced, self.tracker = traced, tracker
        self.queries = all_queries()
        self.samples: list[layers.Sample] = []
        self.collected: dict[str, object] = {}
        self.mr_outputs: dict[str, list[str]] = {}  # files of the latest run_job
        self.errors: list[str] = []

    def run_pass(self, pass_no: int, collect: bool) -> None:
        table_dir = self.inputs.pass_dir(pass_no)
        for layer, step in self.w.steps:
            self.run_step(pass_no, layer, step, table_dir, collect)

    def run_step(self, pass_no: int, layer: str, step: str, table_dir: str, collect: bool) -> None:
        sc = self.spark.sparkContext
        start = time.time()
        t0 = time.perf_counter()
        if self.traced:
            sc.setJobDescription(layers.label(pass_no, step))
            self.tracker.current = (pass_no, step)
        ok = True
        plan_s = exec_s = 0.0
        t1 = t0
        try:
            if layer == "mr":
                from mapreduce_infrastructure_spark.mr.runner import run_job

                # run_job plans, runs and writes in one call: all of it is plan_s.
                outputs = run_job(self.spark, self.inputs.mr_config)
                t1 = time.perf_counter()
                plan_s = t1 - t0
                self.mr_outputs[step] = outputs
            else:
                df = self.queries[step].fn(self.spark, table_dir)
                t1 = time.perf_counter()
                plan_s = t1 - t0
                if collect:
                    self.collected[step] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                exec_s = time.perf_counter() - t1
        except Exception as exc:  # a failed query is counted, the run goes on
            ok = False
            self.errors.append(f"pass {pass_no} {step}: {type(exc).__name__}: {exc}".splitlines()[0])
            traceback.print_exc(file=sys.stderr)
        finally:
            if self.traced:
                self.tracker.current = None
                sc.setJobDescription(None)
        t2 = time.perf_counter()
        self.samples.append(
            layers.Sample(pass_no, layer, step, start, plan_s, exec_s, t2 - t0, ok,
                         plan_end=start + (t1 - t0), end=start + (t1 - t0) + exec_s)
        )

    def cache_inventory(self) -> tuple[int, float, float]:
        """Persisted RDDs in the session and their memory/disk footprint."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        n = len(infos)
        mem = sum(i.memSize() for i in infos) / 1e6
        disk = sum(i.diskSize() for i in infos) / 1e6
        return n, mem, disk


# ---------------------------------------------------------------------------
# Correctness
# ---------------------------------------------------------------------------


def run_checks(runner: Runner) -> tuple[int, list[str]]:
    """Check the warm-up outputs of the registry queries, and the output
    files of the last timed MapReduce job (every pass overwrites them).
    Returns the number of checks made and the failures."""
    inputs, failures, n = runner.inputs, [], 0
    oracle = check.Oracle(inputs.pass_dir(0)) if runner.w.sf or runner.w.corpus_sf else None
    try:
        for layer, step in runner.w.steps:
            n += 1
            if layer == "mr":
                outputs = runner.mr_outputs.get(step)
                err = (
                    check.check_mr_output(step, outputs, MR_OUTPUT_FILES,
                                          check.expected_wordcount(inputs.mr_text))
                    if outputs is not None
                    else f"{step}: no output"
                )
            else:
                pdf = runner.collected.get(step)
                q = runner.queries[step]
                if pdf is None:
                    err = f"{step}: warm-up pass produced no output"
                elif q.oracle:
                    err = oracle.compare(step, pdf, q.oracle)
                elif step in check.INVARIANTS:
                    err = check.INVARIANTS[step](pdf, inputs.copies[0])
                else:
                    err = f"{step}: no oracle and no invariant"
            if err:
                failures.append(err)
    finally:
        if oracle is not None:
            oracle.close()
    return n, failures


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it, as a
    nearest-rank value, with its label; the maximum when there are fewer
    than 11 samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], f"max of {n}"
    k = n - 10  # rank with 10 samples above it
    return xs[k - 1], f"p{100 * k // n} of {n}"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    proc = getattr(SparkContext, "_gateway", None) and getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cleanup_stream_staging(dirs: list[str]) -> None:
    """Remove the engine's stream-source staging links for our inputs."""
    from mapreduce_infrastructure_spark.catalog import scratch_dir

    for d in dirs:
        shutil.rmtree(scratch_dir("stream_src", os.path.basename(d.rstrip("/"))), ignore_errors=True)


def traced_metrics(w: Workload, runner: Runner, work: str, tracker, passes, cache_rows,
                   mr_output_mb: float, start_s: float,
                   warmup_s: float) -> tuple[dict[str, float], list[str], dict]:
    """Per-layer metrics of a traced run (after the session has stopped and
    the event log is complete), the broken consistency sums, and the trace
    document to write out."""
    jobs, tasks = layers.read_event_log(os.path.join(work, "eventlog"))
    layers.attribute(runner.samples, jobs, tracker)
    rows, broken = layers.consistency(runner.samples, jobs)
    timed = [s for s in runner.samples if s.pass_no > 0]
    n_passes = len(passes)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m: dict[str, float] = {}
    counts: dict[str, dict[str, float]] = {}
    for layer in layers.LAYERS:
        mine = [s for s in timed if s.layer == layer]
        mine_rows = [r for r, s in zip(rows, runner.samples) if s.pass_no > 0 and s.layer == layer]
        metrics, counts[layer] = layers.module_metrics(layer, mine, mine_rows, tasks, n_passes, cores)
        m.update(metrics)
    m["llm.udf_to_python_mb"] = counts["llm"]["udf_to_python_mb"]
    m["llm.udf_from_python_mb"] = counts["llm"]["udf_from_python_mb"]
    m["mr.records_mapped"] = counts["mr"]["records_read"]
    m["mr.pairs_shuffled"] = counts["mr"]["shuffle_records"]
    m.update(layers.streaming_metrics(tracker, {p for p, _, _ in passes}, n_passes))
    m["mr.output_mb"] = mr_output_mb
    persisted, resident, disk = cache_rows[-1]
    m["llm.cache.persisted_rdds"] = float(persisted)
    m["llm.cache.resident_mb"] = resident
    m["llm.cache.disk_mb"] = disk
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warmup_s
    m["trace.consistency_failures"] = float(len(broken))
    untraced = _untraced_pass_s(w)
    traced_pass = statistics.median(e - s for _, s, e in passes)
    m["trace.overhead_s"] = traced_pass - untraced if untraced else 0.0
    spans = layers.build_spans(passes[0][1], passes[-1][2], passes, timed)
    self_by_kind: dict[str, float] = {}
    for sp in spans:
        self_by_kind[sp["kind"]] = self_by_kind.get(sp["kind"], 0.0) + sp["self_s"]
    doc = {"workload": w.name, "spans": spans, "self_s_by_kind": self_by_kind, "queries": rows,
           "cache_per_pass": cache_rows, "consistency_broken": broken, "metrics": m}
    return m, broken, doc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)

    try:
        import mapreduce_infrastructure_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {REPO}: {exc}", file=sys.stderr)
        return 2

    w = tiny(WORKLOADS[args.workload]) if args.tiny else WORKLOADS[args.workload]
    traced = bool(args.trace)
    tag = f"{w.name}-s{args.seed}{'-tiny' if args.tiny else ''}"
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(traced, work)

    # 1. inputs (not part of any metric)
    t = time.perf_counter()
    inputs = Inputs(w, args.seed, os.path.join(work, "inputs"))
    inputs.generate()
    gen_s = time.perf_counter() - t

    # 2. setup: registry import, session, warm-up pass
    t_setup = time.perf_counter()
    from mapreduce_infrastructure_spark.registry import all_queries
    from mapreduce_infrastructure_spark.session import get_spark

    all_queries()
    spark = get_spark(app_name=f"perfbench-{w.name}")
    passes: list[tuple[int, float, float]] = []  # (pass number, start, end), epoch seconds
    try:
        tracker = layers.StreamTracker() if traced else None
        if traced:
            spark.streams.addListener(tracker.listener())
        start_s = time.perf_counter() - t_setup
        runner = Runner(spark, w, inputs, traced, tracker)
        t_warm = time.perf_counter()
        runner.run_pass(0, collect=True)
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup
        stamp = {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM"),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "master": spark.sparkContext.master,
        }

        # 3. timed passes: whole passes until --seconds and MIN_PASSES are reached
        p0 = host_probe()
        cache_rows: list[tuple[int, float, float]] = []
        with RssSampler() as rss:
            t0 = time.perf_counter()
            while len(passes) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
                k = len(passes) + 1
                inputs.prepare_pass(k)
                ps = time.time()
                runner.run_pass(k, collect=False)
                passes.append((k, ps, time.time()))
                if traced:
                    cache_rows.append(runner.cache_inventory())
        p1 = host_probe()

        # 4. correctness, outside the timed region
        n_checks, failures = run_checks(runner)
        mr_output_mb = sum(
            os.path.getsize(p) for outs in runner.mr_outputs.values() for p in outs
        ) / 1e6

        if traced:  # let the listener drain the last progress events
            deadline = time.time() + 5
            while time.time() < deadline and "streaming" in w.layers:
                n_before = len(tracker.progress)
                time.sleep(0.5)
                if len(tracker.progress) == n_before:
                    break
    finally:
        stop_spark(spark)
        cleanup_stream_staging([inputs.pass_dir(p) for p in range(len(passes) + 1)])
        for sub in ("inputs", "tmp", "spark-local"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)

    timed = [s for s in runner.samples if s.pass_no > 0]
    failed = sum(1 for s in timed if not s.ok) + len(failures)
    attempted = len(timed) + n_checks

    # 5. report
    walls = [s.wall_s for s in timed]
    pass_s = statistics.median(e - s for _, s, e in passes)
    tail_v, tail_label = tail(walls)
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "rows_per_s": inputs.rows / pass_s,
        "query_p50_s": statistics.median(walls),
        "query_tail_s": tail_v,
        "peak_rss_mb": rss.peak / 1e6,
    }
    log(f"workload {w.name} seed {args.seed}: {len(passes)} timed passes, {len(timed)} query samples")
    log(f"env {json.dumps(stamp)}")
    log(f"host_probe {json.dumps(probe_delta(p0, p1))}")
    log(f"inputs {inputs.rows} rows, {inputs.bytes / 1e6:.2f} MB, gen_s {gen_s:.3f} s")
    log(f"session start_s {start_s:.3f} s, warmup_s {warmup_s:.3f} s")
    for name, unit in {**END_TO_END, **INFO_UNITS}.items():
        extra = f"  ({tail_label})" if name == "query_tail_s" else ""
        log(f"{name} {e2e[name]:.6g} {unit}{extra}")
    log(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
    log("pass times " + " ".join(f"{e - s:.3f}" for _, s, e in passes) + " s")
    for _, step in w.steps:
        warm = [s.wall_s for s in runner.samples if s.pass_no == 0 and s.step == step]
        times = [s.wall_s for s in timed if s.step == step]
        log(f"  step {step}: warm-up {warm[0] if warm else float('nan'):.3f} s, "
            f"timed median {statistics.median(times) if times else float('nan'):.3f} s")
    for f in failures + [e for e in runner.errors if not e.startswith("pass 0 ")]:
        log(f"FAILED {f}")
    if traced:
        m, broken, doc = traced_metrics(w, runner, work, tracker, passes, cache_rows,
                                        mr_output_mb, start_s, warmup_s)
        doc.update(seed=args.seed, env=stamp, host_probe=probe_delta(p0, p1))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{tag}.json")
        with open(trace_path, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
        for name in layers.PER_LAYER_NAMES:
            log(f"{name} {m[name]:.6g} {_unit(name)}")
        log("self time by span kind: " + ", ".join(
            f"{k} {v:.3f} s" for k, v in doc["self_s_by_kind"].items()))
        for b in broken:
            log(f"CONSISTENCY {b}")
        log(f"trace written to {os.path.relpath(trace_path, REPO)}")
        metrics = {n: {"value": m[n], "unit": _unit(n)} for n in layers.PER_LAYER_NAMES}
    else:
        _record_untraced_pass_s(w, pass_s)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_frac"):
        return "ratio"
    return "count"


_UNTRACED = os.path.join(WORK, "untraced_pass_s.json")


def _untraced_pass_s(w: Workload) -> float | None:
    """Median pass_s of this checkout's recent untraced runs of the same
    workload definition, for the tracing overhead."""
    try:
        with open(_UNTRACED, encoding="utf-8") as fh:
            vals = json.load(fh).get(repr(w))
    except (OSError, ValueError):
        return None
    return statistics.median(vals) if vals else None


def _record_untraced_pass_s(w: Workload, value: float) -> None:
    try:
        with open(_UNTRACED, encoding="utf-8") as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        data = {}
    data[repr(w)] = (data.get(repr(w), []) + [value])[-20:]
    with open(_UNTRACED, "w", encoding="utf-8") as fh:
        json.dump(data, fh)


if __name__ == "__main__":
    sys.exit(main())
