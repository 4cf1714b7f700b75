"""Re-invoke scaling_bench.py --pair <which> until the fair-pair sample is
complete (TARGET_FAIR_PAIRS) or a wall-clock deadline passes.

The inner harness already enforces the bias-free stopping rule (count of
fair pairs, never their value) and the launch gates (burn + membw probes);
this wrapper only restarts it across degraded host eras, because one
invocation spends at most REPS attempt slots and a bad era can eat all of
them on gate-waits. Usage:

    python scripts/sample_until.py large 12600   # pair, budget seconds

It exits with status 1 after MAX_QUICK_FAILS consecutive inner runs that fail
within QUICK_FAIL_S (an import error or a bad argument, not a degraded host).
"""
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from scaling_bench import REV, TARGET_FAIR_PAIRS, collect_pairs  # noqa: E402

PAIRS = {"small": (2, 8, 16000), "large": (8, 32, 16000)}
QUICK_FAIL_S = 60.0
MAX_QUICK_FAILS = 3
which = sys.argv[1] if len(sys.argv) > 1 else "large"
budget = float(sys.argv[2]) if len(sys.argv) > 2 else 10800.0
deadline = time.time() + budget
repo = Path(__file__).resolve().parent.parent
log = repo / "BENCH" / f"sample_until_{which}.log"

invocation = quick_fails = 0
while time.time() < deadline:
    fair = [p for p in collect_pairs(PAIRS[which], REV) if p["fair"]]
    print(f"[sample_until] fair={len(fair)}/{TARGET_FAIR_PAIRS} "
          f"rev={REV} invocation={invocation}", flush=True)
    if len(fair) >= TARGET_FAIR_PAIRS:
        print("[sample_until] sample complete", flush=True)
        break
    invocation += 1
    started = time.time()
    with log.open("a") as f:
        rc = subprocess.run(
            # --skip-suite: reuse the committed suite.json medians (measured
            # in a fair era) instead of re-running the 3x operator suite per
            # invocation — this wrapper exists precisely because the host is
            # degraded, and a degraded-era suite would overwrite good medians.
            [sys.executable, "scripts/scaling_bench.py", "--pair", which,
             "--skip-suite"],
            cwd=str(repo), stdout=f, stderr=subprocess.STDOUT,
        ).returncode
    quick = rc != 0 and time.time() - started < QUICK_FAIL_S
    quick_fails = quick_fails + 1 if quick else 0
    if quick_fails >= MAX_QUICK_FAILS:
        print(f"[sample_until] {quick_fails} inner runs in a row failed at once "
              f"(last exit status {rc}); see {log}", flush=True)
        sys.exit(1)
    time.sleep(30)
else:
    print("[sample_until] deadline reached", flush=True)
