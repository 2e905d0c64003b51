#!/usr/bin/env python3
"""Exact-repeat check for the load-independent per-layer counts.

Runs the traced benchmark twice at one seed for each workload and
fails if any count below differs between the two runs. Timings are not
compared: they depend on load; these counts must not.

  python3 perfbench/test_repeat.py [--seed 7] [--workload <name>]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["analytics", "pos_pipeline"]

# Counts that must repeat exactly at one seed.
REPEATED = [
    "construct.jobs", "construct.stages", "construct.tasks",
    "construct.ops.jobs", "construct.dedup.jobs", "construct.text.jobs",
    "construct.similarity.jobs", "construct.multimodal.jobs",
    "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.codegen_fallbacks", "session.pins_left",
    "ingest.append.triggers", "ingest.append.shuffle_bytes",
    "ingest.wave.triggers", "ingest.wave.jobs_per_trigger",
    "ingest.wave.shuffle_bytes",
    "store.append.versions_committed", "store.append.live_versions",
    "store.append.partitions_rewritten",
    "store.append.bytes_written_per_event_byte",
    "store.wave.versions_committed", "store.wave.live_versions",
    "store.wave.partitions_rewritten",
    "store.wave.bytes_written_per_event_byte",
    "sinks.rows_upserted", "sinks.rows_deleted",
]

# Counts left out of the check, with the reason they cannot repeat.
EXCLUDED = {
    "ingest.append.jobs_per_trigger":
        "two traced runs at seed 7 counted 31 and 30 jobs over the two "
        "append triggers; the job that comes and goes is not identified",
}


def traced_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--workload", choices=WORKLOADS)
    args = p.parse_args()
    bad = []
    for w in [args.workload] if args.workload else WORKLOADS:
        first = traced_run(w, args.seed, args.seconds)
        second = traced_run(w, args.seed, args.seconds)
        for k in REPEATED:
            same = first[k] == second[k]
            print(f"{w} {k}: {first[k]} {second[k]}"
                  + ("" if same else "  MISMATCH"))
            if not same:
                bad.append(f"{w} {k}")
        for k in EXCLUDED:
            print(f"{w} {k}: {first[k]} {second[k]}  (not checked)")
    if bad:
        print("counts that did not repeat: " + ", ".join(bad))
        sys.exit(1)
    print("all counts repeated exactly")


if __name__ == "__main__":
    main()
