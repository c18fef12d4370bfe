"""Benchmark for the engine's declared queries.

    python3 perfbench/run.py --workload sql_intake --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed-loop client issues the
workload's queries one after another through the package's public
entry points (``session.get_spark``, ``registry()[name].fn``, then a
``noop`` write of the returned DataFrame) on ``local[nproc]``. The
inputs are generated from ``--seed``, which also permutes the query
order of every pass.

A run: generate inputs; set up three times (session start, staging,
one untimed warm pass) and keep the median, the first set-up's pass
checking every result against the registry's DuckDB oracle; then time
passes for ``--seconds``. The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it is the run record. Every file it
writes stays under ``.perfbench_run/`` and the package's own ``.tmp/``
staging area.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pathlib
import platform
import random
import shutil
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PKG = "java_mapreduce_framework_spark"
SF_NAME = "perfbench_sf"  # name of the data dir; the package keys its stages by it
SCALE = 0.005
SETUP_REPS = 3
STAGE_AREAS = ("stream", "jobapi", "roundtrip")


class RunError(Exception):
    pass


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------------ state


def configure_env(root: pathlib.Path, run_dir: pathlib.Path, cpus: int) -> None:
    """Point every scratch location of Spark, its Python workers and the
    JVM inside the run dir; must run before the JVM starts."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": "2g",
            "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
            "TMPDIR": str(tmp),
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
            ),
            # the launcher JVM that spark-submit runs first
            "SPARK_LAUNCHER_OPTS": java_opts,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'}",
                    f"--conf spark.hadoop.hadoop.tmp.dir={tmp}",
                    f"--driver-java-options '{java_opts}'",
                    "pyspark-shell",
                ]
            ),
        }
    )


def reset_staging(root: pathlib.Path, run_dir: pathlib.Path) -> None:
    """The defined starting state: no staged artifact of the benchmark's
    data dir exists (package stage dirs, warehouse tables, stream
    checkpoints)."""
    for area in STAGE_AREAS:
        for p in (root / ".tmp" / area).glob(f"{SF_NAME}_*"):
            shutil.rmtree(p, ignore_errors=True)
    for sub in ("warehouse", "ckpt"):
        shutil.rmtree(run_dir / sub, ignore_errors=True)
        (run_dir / sub).mkdir(parents=True)


def stage_dirs(root: pathlib.Path, run_dir: pathlib.Path) -> set[str]:
    found = {
        str(p.relative_to(root))
        for area in STAGE_AREAS
        for p in (root / ".tmp" / area).glob(f"{SF_NAME}_*")
    }
    found |= {str(p.relative_to(root)) for p in (run_dir / "warehouse").iterdir()}
    return found


def inputs_digest(data_dir: pathlib.Path, tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        h.update((data_dir / f"{t}.parquet").read_bytes())
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ spark


def start_spark():
    from java_mapreduce_framework_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the session and the JVM gateway, then wait for the JVM and
    every process under it to exit."""
    from pyspark import SparkContext

    import layers

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    kids = layers.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


# ------------------------------------------------------------------ passes


class Bench:
    def __init__(self, args, root: pathlib.Path, run_dir: pathlib.Path, data_dir: pathlib.Path):
        from java_mapreduce_framework_spark.plans import registry

        self.args = args
        self.root = root
        self.run_dir = run_dir
        self.sf_dir = str(data_dir)
        self.names = WORKLOADS[args.workload]
        self.specs = registry.registry()
        missing = [n for n in self.names if n not in self.specs or self.specs[n].oracle is None]
        if missing:
            raise RunError(f"queries without a registered oracle: {missing}")
        self.order_rng = random.Random(args.seed)
        self.failures: list[str] = []
        self.attempted = 0
        self.mismatches: list[str] = []
        self.spark = None

    def order(self) -> list[str]:
        names = list(self.names)
        self.order_rng.shuffle(names)
        return names

    def execute(self, name: str) -> None:
        df = self.specs[name].fn(self.spark, self.sf_dir)
        df.write.format("noop").mode("overwrite").save()

    def attempt(self, name: str) -> float | None:
        """Run one query; its latency, or ``None`` if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.execute(name)
        except Exception as e:  # noqa: BLE001
            self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return None
        return time.perf_counter() - t0

    def timed_pass(self, latencies: list[float]) -> float:
        """One pass in the seeded order; its wall time. Each query that
        ran adds its latency to ``latencies``."""
        t0 = time.perf_counter()
        for name in self.order():
            dt = self.attempt(name)
            if dt is not None:
                latencies.append(dt)
        return time.perf_counter() - t0

    # -------------------------------------------------------------- setup

    def setup(self) -> dict:
        """Set up ``SETUP_REPS`` times from the same staging state. Only
        the first set-up starts the JVM and compiles cold; the later ones
        stop the session and start a new one in the same, warm JVM. The
        cold set-up is always the slowest, so the median never reads it;
        it is reported on its own as ``session.cold_setup_s``. Its pass is
        the oracle check: a pass of its own would not fit the run's time
        budget."""
        reps, warm, start = [], [], None
        for rep in range(SETUP_REPS):
            if rep:
                self.spark.stop()
                reset_staging(self.root, self.run_dir)
            t0 = time.perf_counter()
            self.spark = start_spark()
            t1 = time.perf_counter()
            if rep:
                for name in self.order():
                    self.attempt(name)
            else:
                start = t1 - t0
                self.verify()
            t2 = time.perf_counter()
            reps.append(t2 - t0)
            warm.append(t2 - t1)
        return {
            "setup_reps_s": reps,
            "session.start_s": start,
            "session.cold_setup_s": reps[0],
            "session.warm_s": metrics.median(warm[1:]),
        }

    # -------------------------------------------------------------- verify

    def verify(self) -> None:
        """One pass comparing each query's rows with the
        registry's DuckDB oracle through the repository's
        ``tests/oracle_check.compare``; keeps the mismatches."""
        sys.path.insert(0, str(self.root / "tests"))
        import oracle_check

        for name in self.order():
            self.attempted += 1
            try:
                ok, why = oracle_check.compare(name, self.spark, self.sf_dir)
            except Exception as e:  # noqa: BLE001
                ok, why = False, f"{type(e).__name__}: {str(e)[:200]}"
            if not ok:
                self.mismatches.append(f"{name}: {why}")


def timed_untraced(bench: Bench, seconds: float) -> dict:
    passes, lat = [], []
    t_begin = time.perf_counter()
    while not passes or time.perf_counter() - t_begin < seconds:
        passes.append(bench.timed_pass(lat))
    return {"passes": passes, "latencies": lat}


def end_to_end(setup: dict, timed: dict) -> dict:
    return {
        "setup_s": metrics.median(setup["setup_reps_s"]),
        "pass_s": metrics.median(timed["passes"]),
        "query_s_p50": metrics.median(timed["latencies"]),
    }


def unbounded(timed: dict, peak_rss_bytes: int) -> tuple[dict, dict]:
    """``query_s_tail`` and ``peak_rss_mb``. A user sees both, but they
    spread too much from run to run to bound, so they are per-layer
    metrics. Also returns the tail's percentile and sample count."""
    lat = timed["latencies"]
    pct, tail = metrics.tail_percentile(lat) if lat else (100.0, 0.0)
    values = {"query_s_tail": tail, "peak_rss_mb": peak_rss_bytes / 2**20}
    return values, {"query_s_tail_percentile": pct, "query_samples": len(lat)}


def print_result(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> None:
    """The result line: the last line of stdout."""
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        ),
        flush=True,
    )


# ------------------------------------------------------------------ main


def main(argv=None) -> int:
    args = parse_args(argv)
    root = pathlib.Path.cwd()
    if not (root / PKG / "__init__.py").is_file():
        print(f"perfbench: no {PKG}/ package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    run_dir = root / ".perfbench_run"
    data_dir = run_dir / "data" / SF_NAME
    configure_env(root, run_dir, cpus)
    load_start = os.getloadavg()

    import datagen
    import layers

    shutil.rmtree(data_dir, ignore_errors=True)
    rows = datagen.generate(data_dir, args.seed, SCALE)
    reset_staging(root, run_dir)

    sys.path.insert(0, str(root))
    import pyspark
    import duckdb
    import java_mapreduce_framework_spark.streaming.jobs as stream_jobs
    from java_mapreduce_framework_spark.sources.tables import TABLES, source_fingerprint

    # The package puts bounded-drain stream checkpoints under /dev/shm;
    # a run reads and writes only inside its checkout, so they go to
    # the run dir instead, on disk rather than tmpfs.
    stream_jobs._ckpt_root = lambda: run_dir / "ckpt"

    bench = Bench(args, root, run_dir, data_dir)
    sampler = None
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": cpus,
        "scale": SCALE,
        "rows": rows,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "source_fingerprint": source_fingerprint(str(data_dir), *TABLES),
        "inputs_sha256": inputs_digest(data_dir, TABLES),
        "loadavg_start": load_start,
    }
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    try:
        setup = bench.setup()
        phase("setup")
        jvm_pid = bench.spark.sparkContext._gateway.proc.pid
        sampler = layers.ProcSampler(jvm_pid)
        sampler.start()
        before = stage_dirs(root, run_dir)
        sampler.sampling.set()
        if args.trace:
            import tracing

            timed = tracing.timed_traced(bench, args.seconds, jvm_pid, run_dir)
        else:
            timed = timed_untraced(bench, args.seconds)
        sampler.sampling.clear()
        new_stages = sorted(stage_dirs(root, run_dir) - before)
        phase("timed")
    finally:
        if sampler is not None:
            sampler.stop()
        if bench.spark is not None:
            shutdown_spark(bench.spark)
    phase("shutdown")

    wide, tail_info = unbounded(timed, sampler.peak)
    if args.trace:
        values = {**tracing.per_layer(setup, timed), **wide}
        units = metrics.PER_LAYER_UNITS
        record.update(timed["record"])
    else:
        values = end_to_end(setup, timed)
        units = metrics.END_TO_END_UNITS
        record.update({k: {"value": v, "unit": metrics.PER_LAYER_UNITS[k]} for k, v in wide.items()})
    failed = len(bench.failures) + len(bench.mismatches) + len(new_stages)
    record.update(
        {
            **tail_info,
            "latencies_s": timed["latencies"],
            "setup_reps_s": setup["setup_reps_s"],
            "passes_s": timed["passes"],
            "failed_frac": {"value": failed / max(bench.attempted, 1), "unit": "ratio"},
            "failures": bench.failures,
            "oracle_mismatches": bench.mismatches,
            "new_stage_dirs_in_timed_passes": new_stages,
            "phase_s": phases,
            "loadavg_end": os.getloadavg(),
        }
    )
    correct = failed == 0
    print(json.dumps({"record": record}))
    print_result(correct, bench.attempted, failed, values, units)
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
