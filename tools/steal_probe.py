"""Hypervisor-steal probe — the measurement behind SCALING.md's
"Timing on a shared VM" note (Cross-cutting).

    python tools/steal_probe.py [--reps N] [--sec S]

No Spark involved: pure CPU burns with /proc/stat sampling, so the
probe isolates the HOST from the engine.  Two experiments:

1. Occupancy ladder — burn 1/4/8/16/32 processes for S seconds each
   and report steal% per window.  Steal that rises with occupancy is
   the co-tenant signature: at low occupancy the hypervisor schedules
   around the neighbor, at full occupancy it cannot.
2. Repeated full-occupancy bursts — N back-to-back 32-core burns.
   EPISODIC steal (the r13 finding: 7.1% in one window, <=0.2% in
   eleven adjacent ones) shows up as high variance across reps, and
   achieved work (user jiffies / nominal) quantifies the cap directly:
   work_ratio 1.00 = full 32 cores delivered, 0.67 = the 1.5x-slow
   suite the r12 run-5 session saw.

Interpreting a degraded-box session: run this probe FIRST.  If
work_ratio < ~0.9 or any rep shows steal >> 1%, bench totals from the
session are box-capped and per-query 2x flags are noise (re-measure
flagged queries in isolation).  cgroup quota and PSI are printed for
completeness — on this container they are unlimited/flat, which is
what rules out in-guest causes (see SCALING.md).

The same counters are recorded automatically by every perfbench run
(its host record); this probe is for dedicated re-measurement at
higher resolution.

Caveat: /proc/stat is BOX-WIDE — user% and work_ratio include every
process on the box, so run the probe on an otherwise-idle box for a
clean work_ratio (concurrent Spark/pytest load inflates it past 1.0).
steal% is immune: it counts hypervisor-withheld time, which no guest
process can inflate.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import sys
import time


def cpu_sample(path: str = "/proc/stat") -> list[int] | None:
    """First /proc/stat line as 8 jiffie counters, or None off-Linux.

    Also None when the cpu line carries fewer than 8 fields (a kernel
    without the steal column): callers index delta[7], so a short list
    must fail HERE per the documented contract, not as an IndexError
    after a full bench suite has already run.  `path` is a test seam.
    """
    try:
        with open(path) as fh:
            vals = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return vals if len(vals) == 8 else None


def _burn_until(stop, deadline: float) -> None:
    # Check the shared stop flag only every 100k increments: Event.is_set
    # goes through a semaphore syscall, which would land in sys jiffies
    # and deflate the user% the probe exists to measure.  The wall-clock
    # deadline is a failsafe: if the parent dies between spawn and
    # stop.set() (signal, sampling error), the child must not burn a
    # core forever on the very box whose steal the probe measures.
    x = 0
    while not stop.is_set() and time.time() < deadline:
        for _ in range(100_000):
            x += 1


def burst(nproc: int, sec: float, ncpu: int) -> dict:
    """Burn `nproc` processes across a `sec`-second sampled window
    (sec must be > 0; main() validates); return the window's
    steal/user/idle percentages and the achieved-work ratio (user
    jiffies delivered / nominal for `nproc` cpus)."""
    stop = mp.Event()
    deadline = time.time() + sec + 30.0  # orphan failsafe, generous
    procs = [
        mp.Process(target=_burn_until, args=(stop, deadline))
        for _ in range(nproc)
    ]
    try:
        for p in procs:
            p.start()
        # Children burn until the shared stop event, not for a per-child
        # duration — so however long the spawn loop takes (32 forks of a
        # large parent), every child is still burning through the entire
        # sampled window and the tail can never dilute user%/work_ratio.
        # The short post-spawn settle skips interpreter start-up ramp at
        # the head; sampling then covers exactly `sec` of full occupancy.
        time.sleep(0.3)
        t_before = time.time()
        before = cpu_sample()
        time.sleep(sec)
        after = cpu_sample()
        wall = time.time() - t_before
    finally:
        # Always release the children — an exception anywhere above
        # must not leave nproc non-daemon burners for multiprocessing's
        # atexit join to hang on.
        stop.set()
        for p in procs:
            if p.pid is not None:
                p.join()
    if before is None or after is None:
        return {"error": "no /proc/stat"}
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    if total <= 0:
        return {"error": "empty jiffie window"}
    # USER_HZ is 100 on this class of kernel; nominal = what `nproc`
    # fully-scheduled cpus would deliver over the sampled window.
    # Use the MEASURED wall window, not the requested `sec`: on a
    # contended box time.sleep oversleeps while the children keep
    # burning, and a requested-duration denominator would overstate
    # work_ratio exactly when the box is degraded — clearing a box
    # the probe exists to flag.
    nominal = min(nproc, ncpu) * wall * 100
    return {
        "procs": nproc,
        "steal_pct": round(100.0 * delta[7] / total, 2),
        "user_pct": round(100.0 * delta[0] / total, 2),
        "idle_pct": round(100.0 * delta[3] / total, 2),
        "work_ratio": round(delta[0] / nominal, 3),
    }


#: Fixed single-thread calibration workload: a pure-Python integer
#: loop, no JVM, no allocation — its min-of-3 wall time moves ONLY
#: with scalar single-core execution speed.  The question it was
#: built to settle is ANSWERED (r14): spin does NOT track the JVM
#: canary — measured same-boot 2026-08-16, spin_min
#: 0.530 while the fully-warm canary hit the fast anchor (0.0852),
#: then 0.560 (+5.7%) while the canary DOUBLED to ~0.14; every boot
#: measured in r13-r14 shows spin in the same 0.49-0.61 band.  So
#: the host-clock hypothesis is rejected: the real host drift is
#: minute-scale and visible to JVM/memory-bound work only, and most
#: of the historical "boot class" spread was the old canary
#: instrument timing the fresh-JVM JIT plateau.  Spin is retained
#: purely as a steal-independent scalar-CPU witness — it is NOT a
#: box-speed proxy.
SPIN_ITERS = 20_000_000


def spin_calibration(reps: int = 3) -> dict:
    times = []
    for _ in range(reps):
        t0 = time.time()
        x = 0
        for _ in range(SPIN_ITERS):
            x += 1
        times.append(round(time.time() - t0, 4))
    return {"iters": SPIN_ITERS, "runs": times, "min": min(times)}


def read_quota_and_psi() -> dict:
    out: dict = {}
    for path, key in (
        ("/sys/fs/cgroup/cpu/cpu.cfs_quota_us", "cpu_quota"),  # v1
        ("/sys/fs/cgroup/cpu.max", "cpu_quota"),  # v2
        ("/proc/pressure/cpu", "psi_cpu"),
    ):
        try:
            with open(path) as fh:
                out.setdefault(key, fh.read().strip().splitlines()[0])
        except OSError:
            pass
    return out


def main() -> int:
    reps, sec = 6, 3.0
    argv = sys.argv[1:]
    i = 0
    try:  # argument-strict: bad input = usage, not a traceback
        while i < len(argv):
            if argv[i] == "--reps":
                i += 1
                reps = int(argv[i])
            elif argv[i] == "--sec":
                i += 1
                sec = float(argv[i])
            else:
                print(__doc__)
                return 2
            i += 1
    except (IndexError, ValueError):
        print(__doc__)
        return 2
    if reps < 1 or sec <= 0:
        # sec <= 0 would sample an empty jiffie window (work_ratio
        # divides by nominal = nproc*sec*100) or ValueError inside
        # time.sleep — bad input is usage, not a traceback.
        print(__doc__)
        return 2
    ncpu = mp.cpu_count()
    result = {"ncpu": ncpu, **read_quota_and_psi()}
    result["spin"] = spin_calibration()
    print(f"spin {result['spin']}", file=sys.stderr)

    ladder = []
    for n in (1, 4, 8, 16, ncpu):
        row = burst(n, sec, ncpu)
        ladder.append(row)
        print(f"ladder {row}", file=sys.stderr)
    result["occupancy_ladder"] = ladder

    bursts = []
    for rep in range(reps):
        row = burst(ncpu, sec, ncpu)
        bursts.append(row)
        print(f"burst rep{rep} {row}", file=sys.stderr)
        time.sleep(1)
    result["full_occupancy_bursts"] = bursts
    steals = [b["steal_pct"] for b in bursts if "steal_pct" in b]
    works = [b["work_ratio"] for b in bursts if "work_ratio" in b]
    if steals:
        result["summary"] = {
            "steal_max": max(steals),
            "steal_min": min(steals),
            "work_ratio_min": min(works),
            # the r13 signature: episodic = high spread across reps
            "episodic": max(steals) - min(steals) > 1.0,
        }
    print(json.dumps(result, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
