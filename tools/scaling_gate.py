"""Window-gated pinned scaling-pair launcher — the round-4b retry
protocol (BENCH/MEASUREMENT_LOG.md), automated.

The box suffers host-level DRAM-bus contention invisible to vmstat
steal (membw_r4.jsonl: 4-thread aggregate bandwidth swinging 2.3–64
GB/s between minute-scale samples). A pinned 1→4 pair costs ~20 min;
the gate costs one. This runner:

1. polls ``tools/membw_probe.py`` (~1 min per poll, sleep between);
2. when paired bandwidth efficiency reads >= ``--gate`` (default 0.8)
   in TWO consecutive polls AND the 4-thread best is >= ``--min-gbps``
   (default 45), launches the pinned single-repeat 1→4 pair
   (``NUTCH_BENCH_PIN=1 NUTCH_BENCH_CORES=1,4 NUTCH_BENCH_REPEATS=1
   python bench.py --scaling``) with a ``vmstat 5`` capture;
3. copies ``BENCH/scaling_details.json`` to
   ``BENCH/scaling_details_r5<tag>.json``, appends every poll to
   ``BENCH/probes/membw_r5.jsonl``;
4. stops on the first pair with eff_1_to_4 >= 0.8, or after
   ``--max-pairs`` attempts, or at ``--deadline-min`` minutes.

A sentinel file ``/tmp/scaling_pair_running`` exists while a pair is
in flight so other sessions can avoid polluting the measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SENTINEL = Path("/tmp/scaling_pair_running")


def poll_membw(log_path: Path) -> dict | None:
    try:
        out = subprocess.run(
            [sys.executable, str(REPO / "tools/membw_probe.py"),
             "--threads", "4", "--seconds", "5", "--repeats", "3"],
            capture_output=True, text=True, timeout=300, check=True,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        rec = json.loads(line)
    except Exception as e:  # noqa: BLE001 — a failed poll is just "bad window"
        rec = {"error": type(e).__name__}
    rec["ts"] = time.strftime("%Y-%m-%dT%H:%M:%S")
    with open(log_path, "a") as f:
        f.write(json.dumps(rec) + "\n")
    return rec


def window_ok(rec: dict, gate: float, min_gbps: float) -> bool:
    if "error" in rec:
        return False
    paired = rec.get("efficiency_paired") or []
    # a paired reading over ~1 means the 1-thread sample was itself
    # contended (the ratio inflates when the denominator collapses) —
    # not evidence of a healthy window; likewise require the 1-thread
    # side to be in its uncontended band
    good = [p for p in paired if gate <= p <= 1.05]
    return (
        bool(good)
        and rec.get("gbps_4_best", 0) >= min_gbps
        and rec.get("gbps_1_best", 0) >= 14.0
    )


def run_pair(tag: str) -> dict | None:
    env = dict(os.environ)
    env.update({
        "NUTCH_BENCH_PIN": "1",
        "NUTCH_BENCH_CORES": "1,4",
        "NUTCH_BENCH_REPEATS": "1",
    })
    vmstat_log = REPO / f"BENCH/probes/vmstat_r5{tag}_pair.log"
    with open(vmstat_log, "w") as vm_out:
        vm = subprocess.Popen(
            ["vmstat", "5"], stdout=vm_out, stderr=subprocess.DEVNULL,
        )
        SENTINEL.write_text(tag)
        try:
            out = subprocess.run(
                [sys.executable, str(REPO / "bench.py"), "--scaling"],
                env=env, capture_output=True, text=True,
                timeout=4200, cwd=str(REPO),
            )
        finally:
            vm.terminate()
            vm.wait()
            SENTINEL.unlink(missing_ok=True)
    shutil.copy(
        REPO / "BENCH/scaling_details.json",
        REPO / f"BENCH/scaling_details_r5{tag}.json",
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return None
    summary = json.loads(lines[-1])
    (REPO / f"BENCH/scaling_summary_r5{tag}.json").write_text(
        json.dumps(summary, indent=1)
    )
    return summary


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--gate", type=float, default=0.8)
    ap.add_argument("--min-gbps", type=float, default=45.0)
    ap.add_argument("--poll-sleep", type=int, default=180)
    ap.add_argument("--max-pairs", type=int, default=3)
    ap.add_argument("--deadline-min", type=int, default=240)
    args = ap.parse_args()

    log_path = REPO / "BENCH/probes/membw_r5.jsonl"
    log_path.parent.mkdir(parents=True, exist_ok=True)
    deadline = time.monotonic() + args.deadline_min * 60
    consecutive = 0
    attempts = 0
    tags = "abcdefg"
    while time.monotonic() < deadline and attempts < args.max_pairs:
        rec = poll_membw(log_path)
        ok = window_ok(rec, args.gate, args.min_gbps)
        consecutive = consecutive + 1 if ok else 0
        print(json.dumps({"poll": rec, "ok": ok, "consecutive": consecutive}),
              flush=True)
        if consecutive >= 2:
            # skip tags whose artifacts exist (a re-armed gate process
            # must not overwrite a previous attempt's committed files)
            tag = next(
                (t for t in tags
                 if not (REPO / f"BENCH/scaling_details_r5{t}.json").exists()),
                None,
            )
            if tag is None:
                print(f"all tags r5{tags[0]}..r5{tags[-1]} already have "
                      "scaling_details artifacts; nothing left to launch",
                      flush=True)
                return 1
            attempts += 1
            consecutive = 0
            print(f"window healthy — launching pinned pair r5{tag}", flush=True)
            summary = run_pair(tag)
            post = poll_membw(log_path)  # window health right after
            print(json.dumps({"pair": tag, "summary": summary,
                              "post_membw": post}), flush=True)
            eff = (summary or {}).get("eff_1_to_4", 0)
            if eff and eff >= 0.8:
                print(f"criterion met: eff_1_to_4={eff}", flush=True)
                return 0
        else:
            time.sleep(args.poll_sleep)
    print(f"done: {attempts} pairs attempted, no >=0.8 reading", flush=True)
    return 1


if __name__ == "__main__":
    sys.exit(main())
