"""wbx benchmark: one workload, one closed-loop client, one JSON result line.

    python3 perfbench/run.py --workload frontier_round --seed 1 --seconds 10 --trace 0

Run from the root of a wbx checkout. One driver process runs Spark in
``local[<cores>]``; each operation starts when the previous one ends. Set-up
(session start, landing the seed's inputs, the untimed warm-up ops) is
reported as ``setup_s``; the inputs are landed three times into fresh
directories and the median is reported. Timed ops then run until their walls
add up to ``--seconds`` (at least one op). The first warm-up op's output gets
the full structural checks; every later op's output must reproduce it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one untraced
and one traced op and prints the per-layer metrics. Host facts,
input fingerprints and (traced) spans go to ``.perfbench/results/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import asdict  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SETUP_REPS = 3


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) // 1024


def host_facts(spark) -> dict:
    sha = ""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        with contextlib.suppress(OSError, subprocess.SubprocessError):
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_mb(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": sha or "not a git checkout",
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
    }


def start_session(work: str):
    """Spark fitted to the host: local[nproc], shuffle partitions = cores,
    driver heap at most half of RAM; every scratch file under ``work``.

    The heap is committed at start (-Xms), so resident memory does not depend
    on when the JVM grows it."""
    cores = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    heap = f"{min(mem_total_mb() // 2, 3072)}m"
    os.environ["WBX_DRIVER_MEMORY"] = heap
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from wbx.session import get_spark

    spark = get_spark(
        app_name="wbx-perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.default.parallelism": str(cores),
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait for every process this run started."""
    from pyspark import SparkContext

    from perfbench.procstat import tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and len(tree()) > 1:
        time.sleep(0.2)
    for pid, _, _ in tree()[1:]:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, 9)


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.walls: list[float] = []

    def timed_op(self, traced: bool) -> dict | None:
        """One op under the clock and the RSS sampler; None if it raised."""
        from perfbench.procstat import RssSampler, tree_cpu_s

        self.attempted += 1
        wl, tracer = self.wl, self.tracer
        try:
            with RssSampler() as rss:
                cpu0, t0 = tree_cpu_s(), time.perf_counter()
                if traced:
                    tracer.op += 1
                    with tracer.hooked(wl.hooks()), tracer.span("op"):
                        wl.tracer = tracer
                        out = wl.op()
                else:
                    out = wl.op()
                wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        except Exception:  # one failed op is a result, not the end of the run
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
            return None
        finally:
            wl.tracer = None
        out.update(wall=wall, cpu=cpu, rss=rss.samples_mb)
        self.walls.append(wall)
        try:
            problems = wl.check(out, full=False)
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            self.problems.extend(problems)
        return out

    def loop(self, seconds: float) -> list[dict]:
        """Untraced ops until their walls add up to ``seconds``."""
        outs, spent = [], 0.0
        while spent < seconds:
            out = self.timed_op(traced=False)
            if out is None:
                if self.failed >= 3:
                    break
                continue
            outs.append(out)
            spent += out["wall"]
        return outs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "wbx")):
        sys.exit(f"no wbx/ next to perfbench/ in {ROOT}: nothing to measure")

    from perfbench import report
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = start_session(work)
    facts: dict = {}
    try:
        session_s = time.perf_counter() - T0
        wl = workload(spark, work, args.seed)
        runner = Runner(wl)

        # set-up: land the inputs several times (fresh directories, same
        # seed), then the untimed warm-up ops on the last landing; the first
        # one's output gets the structural checks, the others must match it
        lands, fingerprints = [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.land(rep)
            lands.append(time.perf_counter() - t0)
            fingerprints.append(wl.input_fingerprint())
        t0 = time.perf_counter()
        warm = wl.warm_up()
        first_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        runner.problems.extend(wl.check(warm, full=True))
        check_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(wl.warm_ups - 1):
            runner.problems.extend(wl.check(wl.op(), full=False))
        warm_s = first_s + time.perf_counter() - t0
        setups = [session_s + land + warm_s for land in lands]
        reference_ok = not runner.problems
        if any(fp != fingerprints[0] for fp in fingerprints):
            runner.problems.append("the same seed landed different inputs")
            reference_ok = False

        if args.trace:
            tracer = runner.tracer = Tracer(spark)
            cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
            # one op each way: the traced op's layers, and the overhead
            untraced = [o for o in [runner.timed_op(traced=False)] if o]
            traced = [o for o in [runner.timed_op(traced=True)] if o]
            if not (untraced and traced):
                raise SystemExit("no op completed:\n" + "\n".join(runner.problems))
            tracer.collect_stages(0)
            layers = report.op_layers(tracer.spans, 0, cores)
            layers["op.wall_ratio"] = traced[0]["wall"] / untraced[0]["wall"]
            metrics = {
                k: report.metric(layers[k], report.UNITS[k.rsplit(".", 1)[1]][0])
                for k in report.per_layer_names()
            }
            tracer.release()
            spans = [asdict(s) for s in tracer.spans]
        else:
            outs = runner.loop(args.seconds)
            if not outs:
                raise SystemExit("no op completed:\n" + "\n".join(runner.problems))
            metrics = {
                "setup_s": report.metric(statistics.median(setups), "s"),
                "items_per_cpu_s": report.metric(
                    statistics.median([o["items"] / o["cpu"] for o in outs]), "1/cpu-s"
                ),
                "cpu_s": report.metric(statistics.median([o["cpu"] for o in outs]), "s"),
                "rss_mb": report.metric(statistics.median([x for o in outs for x in o["rss"]]), "MiB"),
            }
            facts["items_per_s"] = statistics.median([o["items"] / o["wall"] for o in outs])
            spans = []

        facts.update({
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host_facts(spark),
            "inputs": fingerprints[0],
            "session_s": session_s,
            "land_s": lands,
            "warm_s": warm_s,
            "check_s": check_s,
            "op_s": runner.walls,
            "item": wl.item,
            "problems": runner.problems,
            "spans": spans,
        })
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        facts["stop_s"] = time.perf_counter() - t0

    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(base, "results", name), "w") as f:
        json.dump({**facts, "metrics": metrics}, f, default=str)
    for p in runner.problems:
        print("problem:", p, file=sys.stderr)
    print(json.dumps({k: v for k, v in facts.items() if k in ("host", "inputs", "item")}))
    print(
        json.dumps(
            {
                "correct": reference_ok and runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
