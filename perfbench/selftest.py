"""Self-tests of the benchmark's instruments.

    python3 perfbench/selftest.py
        The event-log reader on a toy query with known counts: one
        build-phase job (range -> collect, 1 stage, 2 tasks) and a
        two-stage exec phase (range -> groupBy -> noop sink: a 4-task
        map stage and, after AQE coalescing, a 1-task reduce stage).
        Checks job, stage and task counts, non-zero shuffle bytes, the
        exchange count, and build-versus-exec and layer attribution.

    python3 perfbench/selftest.py --determinism WORKLOAD --seed N
        Two traced runs of WORKLOAD at one seed. The counters the
        benchmark's claims rest on (exec.jobs, exec.stages, exec.tasks,
        exec.shuffle_write_bytes) must repeat exactly; every other
        per-layer counter that differs is listed as not claimable.

Both exit 0 on success and 1 on failure.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLAIMABLE = ("exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes")


def toy_eventlog() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import WORK, pin_environment

    pin_environment(len(os.sched_getaffinity(0)))
    import shutil

    from pyspark.sql import functions as F

    from frames_spark.session import get_spark
    from perfbench.eventlog import LAYER_PROP, EventLog

    log_dir = os.path.join(WORK, "selftest", str(os.getpid()))
    os.makedirs(log_dir)
    spark = get_spark(
        "perfbench-selftest",
        shuffle_partitions=4,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("toy:build", "eager build job")
        sc.setLocalProperty(LAYER_PROP, "sources")
        spark.range(0, 1000, 1, 2).collect()
        sc.setLocalProperty(LAYER_PROP, None)
        sc.setJobGroup("toy:exec", "range -> groupBy -> noop")
        (
            spark.range(0, 100_000, 1, 4)
            .groupBy((F.col("id") % 10).alias("k"))
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    finally:
        spark.stop()
    try:
        (path,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        ev = EventLog.read(path)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    build = ev.counters({"toy:build"})
    exe = ev.counters({"toy:exec"})
    both = ev.counters({"toy:build", "toy:exec"})
    checks = [
        ("build jobs", build["jobs"], 1),
        ("build stages", build["stages"], 1),
        ("build tasks", build["tasks"], 2),
        ("build shuffle bytes", build["shuffle_write_bytes"], 0),
        ("exec jobs", exe["jobs"], 2),
        ("exec stages", exe["stages"], 2),
        ("exec tasks", exe["tasks"], 5),
        ("exec exchanges", exe["exchanges"], 1),
        ("exec shuffle written > 0", exe["shuffle_write_bytes"] > 0, True),
        ("exec shuffle read == written",
         exe["shuffle_read_bytes"] == exe["shuffle_write_bytes"], True),
        ("both == build + exec jobs", both["jobs"], build["jobs"] + exe["jobs"]),
        ("jobs in the sources layer",
         ev.jobs_by_layer({"toy:build", "toy:exec"}).get("sources"), 1),
        ("sink-layer tasks", ev.counters({"toy:exec"}, layer="sink")["tasks"], 0),
    ]
    failed = 0
    for name, got, want in checks:
        ok = got == want
        failed += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {got} (want {want})")
    return 1 if failed else 0


def traced_run(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "16", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    report, result = json.loads(out[-2]), json.loads(out[-1])
    return {"metrics": result["metrics"], "per_op": report["per_op_counters"]}


def determinism(workload: str, seed: int) -> int:
    a, b = traced_run(workload, seed), traced_run(workload, seed)
    counters = [k for k, v in a["metrics"].items() if v["unit"] in ("count", "bytes")]
    differ = [k for k in counters if a["metrics"][k]["value"] != b["metrics"][k]["value"]]
    for k in counters:
        va, vb = a["metrics"][k]["value"], b["metrics"][k]["value"]
        print(f"{'same' if va == vb else 'DIFF'} {k:28s} {va:>14} {vb:>14}")
    for op, ca in a["per_op"].items():
        cb = b["per_op"][op]
        if ca != cb:
            print(f"DIFF per-op {op}: {ca} vs {cb}")
    print(f"not claimable on {workload}: {', '.join(differ) or 'none'}")
    bad = [k for k in CLAIMABLE if k in differ]
    if bad:
        print(f"FAIL: {', '.join(bad)} did not repeat")
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--determinism", metavar="WORKLOAD")
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    if args.determinism:
        return determinism(args.determinism, args.seed)
    return toy_eventlog()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
