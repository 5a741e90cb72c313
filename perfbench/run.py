"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload daily_incremental --seed 1 --seconds 10 --trace 0

Run from the repository root: the program is imported from the current
directory, and everything the run writes stays under ``.perfbench_work``
(scratch, removed at exit) and ``.perfbench_state`` (the history
warehouse cache, first-seen output digests and per-run result files).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. Lines before it print every metric with its unit and the
steadiness evidence.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
STATE = os.path.join(ROOT, ".perfbench_state")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def percentile_with_tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    its value (nearest rank); the median when there are fewer than 20."""
    n = len(samples)
    p = max(50.0, 100.0 * (n - 10) / n) if n else 50.0
    p = float(int(p))  # report a whole percentile
    xs = sorted(samples)
    rank = max(1, min(n, -(-int(p * n) // 100)))
    value = xs[rank - 1] if p > 50 else statistics.median(xs)
    return p, value


def rss_peak_reset(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def rss_peak_mb(pids: list[int]) -> list[float]:
    """VmHWM of each process, in MB."""
    out = []
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    out.append(int(line.split()[1]) / 1024.0)
    return out


def cpu_ticks() -> dict:
    """Machine-wide busy and steal ticks, to show host contention."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return {"busy": f[0] + f[1] + f[2] + f[5] + f[6], "steal": f[7] if len(f) > 7 else 0}


def cached_blocks(spark) -> int:
    return sum(i.numCachedPartitions() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def git_commit() -> str | None:
    """HEAD of the checkout, when it is a git repository."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def start_spark(work: str):
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    from jobinsight_data_pipeline_spark.session import DEFAULT_TZ, get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Duser.timezone={DEFAULT_TZ} -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                # a fixed heap and young generation: how much of the heap
                # is touched then depends on live data, not on GC timing
                f"-Xms{mem} -Xmn256m -XX:+AlwaysPreTouch"
            ),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str) -> dict:
    setup_t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads as W
    from tracing import Tracer, instrument, median, restore

    bench = spec()
    os.makedirs(work)
    os.makedirs(STATE, exist_ok=True)
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    if W.WORKLOADS[args.workload].needs_history:
        W.ensure_history(STATE, work)
    spark = start_spark(work)
    try:
        ctx = W.Context(spark, work, STATE, args.seed)
        wl = W.WORKLOADS[args.workload](ctx)
        wl.setup()
        wl.warmup()
        setup_s = time.perf_counter() - setup_t0

        # spans start with the timed operations
        tracer = ctx.tracer = Tracer(spark) if args.trace else None

        undo = instrument(tracer, ctx.captured) if tracer else []
        pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
        blocks_before = cached_blocks(spark)
        samples, failures, layer_rows, errors = [], 0, [], []
        rss_samples = []
        measured, loop_t0 = 0.0, time.perf_counter()
        i = 0
        while True:
            wl.prepare(i)
            out, ok = None, False
            # the peak is read over the operation only, not its check
            rss_peak_reset(pids)
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.span("op") as root:
                        out = wl.op(i)
                else:
                    out = wl.op(i)
            except Exception:
                errors.append(traceback.format_exc())
            dt_ = time.perf_counter() - t0
            rss_samples.append(rss_peak_mb(pids))
            if out is not None:
                try:
                    ok = wl.check(i, out)
                except Exception:
                    errors.append(traceback.format_exc())
            samples.append(dt_)
            measured += dt_
            failures += 0 if ok else 1
            if tracer and out is not None:
                tracer.harvest()
                row = wl.layers(i, out, root)
                row.update(tracer.spark_totals(root))
                layer_rows.append(row)
            i += 1
            # whole rounds only, so every run samples the same op mix
            if i % wl.round == 0 and i >= wl.min_ops and (
                measured >= args.seconds or time.perf_counter() - loop_t0 >= 3 * args.seconds
            ):
                break
        restore(undo)
        blocks_after = cached_blocks(spark)
        stored = wl.stored_bytes()
        evidence = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "cpu_ticks_delta": {k: v - ticks_before[k] for k, v in cpu_ticks().items()},
            "spark_version": spark.version,
            "git_commit": git_commit(),
            "program_fingerprint": W.program_fingerprint(),
            "cached_rdd_blocks_before": blocks_before,
            "cached_rdd_blocks_after": blocks_after,
            **wl.evidence(),
        }
        if tracer:
            with open(os.path.join(STATE, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump(tracer.dump(), fh)
    finally:
        stop_spark(spark)

    total = sum(samples)
    tail_p, tail = percentile_with_tail(samples)
    p50 = statistics.median(samples)
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": p50,
        "op_s_tail": tail,
        "rows_per_s": sum(wl.rows(k) for k in range(len(samples))) / total,
        "queries_per_s": len(samples) / total,
        "stored_bytes_per_input_byte": stored / wl.input_bytes,
        "peak_rss_mb": max(sum(r) for r in rss_samples),
    }
    # untraced op_s_p50 of this program version, the traced run's baseline
    record = os.path.join(STATE, f"untraced-{args.workload}-{W.program_fingerprint()}.json")
    untraced = []
    if os.path.exists(record):
        with open(record) as fh:
            untraced = json.load(fh)
    if not args.trace:
        with open(record, "w") as fh:
            json.dump((untraced + [p50])[-50:], fh)
    evidence.update(
        samples=samples, rss_mb_python_jvm=rss_samples, op_s_tail_percentile=tail_p, failed_ratio=failures / len(samples),
        errors=errors[:3],
    )
    if args.trace:
        names = [m["name"] for m in bench["per_layer"]]
        # median over the operations that ran the layer; 0 if none did
        values = {n: median([r[n] for r in layer_rows if n in r]) for n in names}
        values["spark.cached_blocks_delta"] = blocks_after - blocks_before
        values["trace.op_s_p50"] = p50
        values["trace.overhead_s"] = p50 - median(untraced) if untraced else 0.0
        evidence["trace_overhead_base_runs"] = len(untraced)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        values = e2e
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in units}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results", f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"metrics": metrics, "evidence": evidence}, fh, indent=1, default=str)
    for e in errors[:3]:
        print(e, file=sys.stderr)
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    print(f"op_s_tail is p{tail_p:g} of {len(samples)} samples; failed_ratio {failures / len(samples):.4g}")
    brief = {k: v for k, v in evidence.items() if k not in ("samples", "rss_mb_python_jvm")}
    print("evidence " + json.dumps(brief, default=str))
    return {
        "correct": failures == 0,
        "attempted": len(samples),
        "failed": failures,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:  # another run's scratch is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
