"""Benchmark: the CLI entry points users run, driven in-process.

    python3 perfbench/run.py --workload dq_validate --seed 1 --seconds 5 \\
        --trace 0

One driver process at ``local[N]``, N = the CPUs this process may use. The
run generates its inputs from ``--seed`` (cached under ``perfbench/_work``
by seed and size), starts the session, checks the inputs, makes one untimed
warm-up run, then runs the workload until ``--seconds`` have passed, checking
every run's output.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (README.md); with ``--trace 1`` the run first
measures untraced, then restarts the session with the event log on and
wall-clock spans around the package's public calls, and reports the
per-layer metrics of the traced run whose time is the median. The line
before the result records the environment, the inputs and the outputs'
digests; ``perfbench/_work/results`` keeps a copy.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / "_work"

# Input sizes: a warm-up plus a timed run of each workload fits the run
# budget; see README.md for the measured times at other sizes.
PAGES_ROWS = 2_000
LINEITEM_ROWS = 100_000
RSS_POLL_S = 0.2


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _configure_env(cpus: int) -> dict[str, str]:
    """Environment for the session and its Python workers; everything the
    run writes stays under WORK."""
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    for d in ("spark-local", "tmp", "eventlog"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    env = {
        # workers import the package from the checkout, whatever the cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        # 2 GB heap, 1 GB on a box under 8 GB (get_spark defaults to 16 GB)
        "SPARK_DRIVER_MEMORY": f"{2 if mem_gb >= 8 else 1}g",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
    }
    os.environ.update(env)
    return env


class RssSampler:
    """Peak summed proportional set size (PSS) of the driver JVM and its
    Python workers, polled from /proc. PSS splits the pages forked workers
    share with their daemon; processes the JVM forks briefly for other
    programs are not counted. The process tree is rescanned once a second
    and the PSS read every RSS_POLL_S, so the sampler holds the GIL only
    briefly."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    @staticmethod
    def _tracked() -> list[int]:
        """The JVM (this process's child) and the Python processes that
        descend from it."""
        procs: dict[int, tuple[int, str]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
            except OSError:
                continue
            procs[int(entry)] = (int(tail.split()[1]),
                                 head.split("(", 1)[1])
        me = os.getpid()
        jvms = {pid for pid, (ppid, comm) in procs.items()
                if ppid == me and comm == "java"}
        out = list(jvms)
        for pid, (ppid, comm) in procs.items():
            anc = ppid
            while comm.startswith("python") and anc in procs \
                    and anc not in jvms:
                anc = procs[anc][0]
            if comm.startswith("python") and anc in jvms:
                out.append(pid)
        return out

    def _poll(self):
        pids, rescan = [], 0.0
        while not self._stop.is_set():
            if time.monotonic() >= rescan:
                pids, rescan = self._tracked(), time.monotonic() + 1.0
            total = 0
            for pid in pids:
                try:
                    total += self._pss(pid)
                except OSError:
                    continue
            self.peak = max(self.peak, total)
            self._stop.wait(RSS_POLL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _session(cpus: int, extra: dict[str, str] | None = None):
    from cloud_data_quality_spark.sources.session import get_spark

    heap = os.environ["SPARK_DRIVER_MEMORY"]
    young = f"{int(heap[:-1]) * 256}m"

    conf = {"spark.local.dir": str(WORK / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap and young generation: resident memory then
            # follows live data, not the collector's adaptive sizing
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData "
                f"-Xms{heap} -Xmn{young}",
            **(extra or {})}
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     extra_conf=conf)


class Runner:
    """Runs one workload through ``cli.main`` and checks each output."""

    def __init__(self, spark, workload, tag: str):
        self.spark = spark
        self.workload = workload
        self.tag = tag
        self.attempted = 0
        self.failed = 0
        self.records: list[dict] = []

    def run_once(self, label: str, keep_output: bool = False) -> dict:
        from cloud_data_quality_spark import cli

        out = WORK / "runs" / f"{self.workload.name}-{self.tag}-{label}"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        group = f"{self.workload.name}/{self.tag}/{label}"
        self.spark.sparkContext.setJobGroup(group, group)
        buf = io.StringIO()
        rec = {"label": label, "group": group, "ok": False, "out": out}
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(buf):
                rc = cli.main(self.workload.argv(out))
            rec["seconds"] = time.perf_counter() - t0
            if rc != 0:
                raise RuntimeError(f"cli exited {rc}")
            rec["check"] = self.workload.check(out, buf.getvalue())
            rec["ok"] = True
        except (Exception, SystemExit):
            rec.setdefault("seconds", time.perf_counter() - t0)
            print(f"[perfbench] {group} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
            self.failed += 1
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            if not keep_output:
                shutil.rmtree(out, ignore_errors=True)
        self.records.append(rec)
        return rec

    def timed(self, seconds: float, keep_output: bool = False) -> list[dict]:
        """Run until ``seconds`` have passed (at least once)."""
        runs, t0 = [], time.perf_counter()
        while not runs or time.perf_counter() - t0 < seconds:
            runs.append(self.run_once(f"t{len(runs)}", keep_output))
        return runs


def _median_run(runs: list[dict]) -> dict:
    """The run whose time is the (lower) median."""
    ordered = sorted(runs, key=lambda r: r["seconds"])
    return ordered[(len(ordered) - 1) // 2]


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _untraced(args, cpus, workload_cls) -> tuple[dict, dict]:
    from perfbench.inputs import ensure_inputs, input_bytes, input_digest

    # input generation (cached by seed and size) runs before the session
    # starts and is not part of set-up
    t_gen = time.perf_counter()
    inputs = ensure_inputs(WORK / "cache", args.seed, PAGES_ROWS,
                           LINEITEM_ROWS, set(workload_cls.needs))
    wl = workload_cls(args.workload, inputs)
    wl.prepare()
    gen_s = time.perf_counter() - t_gen
    spark = _session(cpus)
    runner = Runner(spark, wl, "e2e")
    _check_inputs(spark, wl)
    # one untimed warm-up: the driver JVM keeps getting faster for several
    # runs (curate's third run varies ~3 % between processes, its second
    # ~10 %), but one is what the run budget allows; see README.md
    runner.run_once("warmup")
    # set-up runs from process start to the first timed run
    setup_s = _process_age_s() - gen_s
    with RssSampler() as rss:
        runs = runner.timed(args.seconds)
    ok_runs = [r for r in runs if r["ok"]]
    run_s = statistics.median(r["seconds"] for r in (ok_runs or runs))
    metrics = {
        "setup_s": _metric(setup_s, "s"),
        "run_s": _metric(run_s, "s"),
        "rows_per_s": _metric(wl.input_rows() / run_s, "rows/s"),
        "peak_rss_mb": _metric(rss.peak / 2**20, "MB"),
        "success_rate": _metric(
            (runner.attempted - runner.failed) / runner.attempted, "ratio"),
    }
    record = {
        "gen_s": gen_s, "timed_runs": len(runs),
        "run_seconds": [r["seconds"] for r in runs],
        "input_rows": {"pages": inputs.pages_rows,
                       "lineitem": inputs.lineitem_rows},
        "input_bytes": input_bytes(inputs),
        "input_digest": input_digest(inputs),
        "checks": [r.get("check") for r in runner.records],
    }
    return {"runner": runner, "spark": spark, "wl": wl, "metrics": metrics,
            "run_s": run_s}, record


def _check_inputs(spark, wl) -> None:
    """Input check before the warm-up: every input the workload reads is
    there and has the rows it should."""
    paths = {"pages": (wl.inputs.pages, wl.inputs.pages_rows),
             "dq": (wl.inputs.lineitem, wl.inputs.lineitem_rows)}
    for need in wl.needs:
        path, rows = paths[need]
        got = spark.read.parquet(str(path)).count()
        if got != rows:
            raise SystemExit(f"input {path} has {got} rows, not {rows}")


def _traced(args, cpus, state: dict) -> tuple[dict, dict]:
    from perfbench import layers
    from perfbench.eventlog import fold, read_events

    state["spark"].stop()
    log_dir = WORK / "eventlog" / f"{args.workload}-s{args.seed}"
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    spark = _session(cpus, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        # Spark 4.1 compresses with zstd by default; keep the log readable
        # without the zstandard module
        "spark.eventLog.compress": "false",
        # one log file (Spark 4 rolls the log into a directory by default)
        "spark.eventLog.rolling.enabled": "false",
    })
    wl = state["wl"]
    runner = Runner(spark, wl, "trace")
    spans = layers.Spans()
    with spans.installed():
        runner.run_once("warmup")
        runs = runner.timed(args.seconds, keep_output=True)
    batch_rows = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    spark.stop()  # flushes the event log
    # one application, one non-rolling log file in the emptied directory
    (log,) = log_dir.iterdir()
    groups = fold(read_events(log))
    median = _median_run(runs)
    kernel_rate = (layers.docs_per_core_s(wl.inputs.pages, batch_rows)
                   if "pages" in wl.needs else 0.0)
    metrics = layers.per_layer(
        wl, median, spans.for_group(median["group"]),
        groups.get(median["group"], {}), traced_run_s=median["seconds"],
        untraced_run_s=state["run_s"], kernel_rate=kernel_rate)
    for r in runs:
        shutil.rmtree(r["out"], ignore_errors=True)
    state["runner"].attempted += runner.attempted
    state["runner"].failed += runner.failed
    return ({k: _metric(v, layers.UNITS[k]) for k, v in metrics.items()},
            {"traced_run_seconds": [r["seconds"] for r in runs],
             "trace_checks": [r.get("check") for r in runner.records]})


def _stop_jvm() -> None:
    """Stop the driver JVM and wait for it: it exits when its stdin pipe
    from this process closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["dq_validate", "curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import cloud_data_quality_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"[perfbench] cannot import the program: {e}", file=sys.stderr)
        return 2
    import pyarrow

    from perfbench.workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    env = _configure_env(cpus)
    state, record = _untraced(args, cpus, WORKLOADS[args.workload])
    metrics = state["metrics"]
    if args.trace:
        metrics, trace_record = _traced(args, cpus, state)
        record.update(trace_record)
    else:
        state["spark"].stop()
    _stop_jvm()
    runner = state["runner"]
    record.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cpus, "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "env": env,
    })
    result = {"correct": runner.failed == 0, "attempted": runner.attempted,
              "failed": runner.failed, "metrics": metrics}
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    (WORK / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
     ).write_text(json.dumps({"record": record, "result": result},
                             indent=1, default=str))
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
