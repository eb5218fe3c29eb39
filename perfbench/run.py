"""CDC-path benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload trickle_serve --seed 1 --seconds 30 --trace 0

Run from the root of a checkout; the engine is imported from there and
all scratch files live under ``.perfbench_work/`` there (removed at the
end). ``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the same workload with spans and counts around every
call into the engine and prints the per-layer metrics. Human-readable
lines (host, heap, load, every metric with its sample count) come first;
the last line is the JSON result. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

from stats import median, tail

ROOT = os.getcwd()

#: end-to-end metrics: gated ones are in BENCHMARK.json; the rest exist
#: only on some workloads or need more samples than every run has, and
#: are printed for the reader without a gate
REPORTED = {
    "setup_s": "s",
    "ingest_eps": "1/s",
    "apply_ms.p50": "ms",
    "apply_ms.tail": "ms",
    "compact_s": "s",
    "lookup_ms.p50": "ms",
    "lookup_ms.tail": "ms",
    "snapshot_read_s": "s",
    "mv_lag_s.p50": "s",
    "mv_lag_s.tail": "s",
    "feed_backfill_s": "s",
    "bytes_per_row": "B",
    "write_amp": "ratio",
    "error_rate": "ratio",
}


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def heap_mb() -> int:
    """An eighth of physical memory, between 1 and 4 GiB, in 256 MiB steps."""
    mb = meminfo_kb("MemTotal") // 1024 // 8
    return max(1024, min(4096, mb // 256 * 256))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def start_spark(work: str, heap: int):
    from nifi_dicom_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=os.cpu_count() or 1,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # commit the whole heap at start: lazy heap growth stalls
            # show up as latency outliers
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{heap}m -XX:+AlwaysPreTouch"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def end_to_end(run) -> dict:
    """Every end-to-end metric this workload produced: name -> (value, note)."""
    s = run.samples
    out = {}
    if "setup_s" in s:
        note = "session start + JVM warm-up + median input preparation"
        out["setup_s"] = (s["setup_s"][0], note)
    if "apply_ms" in s:
        out["ingest_eps"] = (
            sum(s["events"]) / (sum(s["apply_ms"]) / 1000),
            f"{sum(s['events'])} events over {len(s['apply_ms'])} commits",
        )
    for name in ("apply_ms", "lookup_ms", "mv_lag_s"):
        if name in s:
            v = s[name]
            out[f"{name}.p50"] = (median(v), f"median, n={len(v)}")
            t = tail(v)
            if t is not None:
                out[f"{name}.tail"] = (t[0], f"p{t[1]:g}, n={t[2]}")
    for name in ("compact_s", "snapshot_read_s", "feed_backfill_s", "bytes_per_row", "write_amp"):
        if name in s:
            out[name] = (median(s[name]), f"median, n={len(s[name])}")
    out["error_rate"] = (run.failed / max(1, run.attempted), f"{run.failed}/{run.attempted}")
    return out


def per_layer(run) -> dict:
    """Every per-layer metric: name -> (value, note)."""
    from workloads import LAYER_METRICS

    tr = run.tracer
    c = tr.counts
    L = dict(run.layer)

    def med(name: str, scale: float = 1.0) -> float:
        d = tr.durations(name)
        return median(d) * scale if d else 0.0

    L["sources.decode_s"] = med("sources.decode")
    L["operators.lineage_s"] = med("operators.partition_metrics")
    L["lake.merge_s"] = med("lake.merge")
    L["lake.manifest_ms"] = med("lake.manifest", 1000)
    for k in ("sources.events_in", "sources.quarantined", "operators.buckets_touched",
              "lake.files_added", "lake.bytes_written", "lake.lookup_files_read",
              "lake.bloom_skipped"):
        L[k] = c.get(k, 0)
    L["operators.lww_ratio"] = c.get("operators.winners", 0) / max(1, c.get("operators.valid", 0))
    by_layer = tr.self_by_layer()
    for layer in ("sources", "operators", "lake"):
        L[f"{layer}.self_s"] = by_layer.get(layer, 0.0)
    # each traced commit against the mean of the plain commits on either
    # side, which cancels the warm-up trend from one commit to the next
    plain = {e: w for e, (traced, w) in run.walls.items() if not traced}
    ratios = [
        w / ((plain[e - 1] + plain[e + 1]) / 2) - 1
        for e, (traced, w) in run.walls.items()
        if traced and e - 1 in plain and e + 1 in plain
    ]
    if ratios:
        L["trace.overhead_pct"] = median(ratios) * 100
    return {name: (float(L.get(name, 0.0)), "") for name in LAYER_METRICS}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine under test is the checkout's own source tree
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "nifi_dicom_spark", "__init__.py")):
        print("perfbench: no nifi_dicom_spark/ in the working directory", file=sys.stderr)
        return 2
    import nifi_dicom_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(nifi_dicom_spark.__file__))) != ROOT:
        print("perfbench: nifi_dicom_spark resolved outside the checkout", file=sys.stderr)
        return 2

    from spans import Tracer
    from workloads import WORKLOADS, CheckFailed, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # everything Python, the launcher and the JVM write goes under work/
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers (the snapshot_cdf reader) import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    heap = heap_mb()
    load0, steal0 = loadavg(), cpu_ticks()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    t0 = time.perf_counter()
    try:
        spark = start_spark(work, heap)
    except Exception:
        shutil.rmtree(work, ignore_errors=True)
        raise
    run = Run(spark, Tracer(bool(args.trace), run_id), work, args.seed, args.seconds)
    run.phases["session_start"] = time.perf_counter() - t0
    correct = True
    try:
        WORKLOADS[args.workload](run)
    except CheckFailed as ex:
        correct = False
        print(f"perfbench: correctness check failed: {ex}", file=sys.stderr)
    except Exception:  # noqa: BLE001 - any engine failure fails the run, loudly
        correct = False
        run.attempted += 1
        run.failed += 1
        traceback.print_exc()
    finally:
        with run.phase("spark_stop"):
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass

    if args.trace:
        metrics = per_layer(run)
        wanted = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        metrics = end_to_end(run)
        wanted = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    steal1 = cpu_ticks()
    host = {
        "cpus": os.cpu_count(),
        "heap_mb": heap,
        "load_start": load0,
        "load_end": loadavg(),
        "steal_pct": 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
    }
    print(f"# {run_id}: " + " ".join(f"{k}={v:.4g}" for k, v in host.items()))
    print("#   phases: " + " ".join(f"{k}={v:.1f}s" for k, v in run.phases.items()))
    for name in wanted if args.trace else REPORTED:
        unit = wanted.get(name) or REPORTED[name]
        if name in metrics:
            value, note = metrics[name]
            gate = "" if name in wanted else "  (not gated)"
            print(f"#   {name:32s} {value:14.6g} {unit:6s} {note}{gate}")
            continue
        n = len(run.samples.get(name.split(".")[0], []))
        why = f"needs 20 samples, has {n}" if n else "not measured by this workload"
        print(f"#   {name:32s} {'n/a':>14s} {unit:6s} {why}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    if args.trace:
        run.tracer.dump(os.path.join(out_dir, f"spans-{run_id}.jsonl"))
    with open(os.path.join(out_dir, f"samples-{run_id}.json"), "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "metrics": {n: v for n, (v, _) in metrics.items()},
                "samples": {k: v for k, v in run.samples.items() if not k.startswith("lag.")},
                "phases": run.phases,
                "host": host,
            },
            f,
        )
    missing = sorted(set(wanted) - set(metrics))
    if missing:
        correct = False
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
    result = {
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {
            n: {"value": metrics[n][0], "unit": u} for n, u in wanted.items() if n in metrics
        },
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
