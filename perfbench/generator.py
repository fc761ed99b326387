"""Open-loop line-protocol writer for the ``live_alert`` workload.

Runs as its own single-threaded process, apart from the system under
test. It rebuilds the seeded schedule, then at every tick writes the
points that fell due during it as one spool file, stamped with their
due times. It never waits for the consumer: a stalled consumer makes the
spool grow, not the generator slow down. When done it writes a JSON
report (points, files, how late each write ran) next to the spool.

    python3 perfbench/generator.py --spool DIR --report FILE \
        --seed N --seconds S --t0-ns T [--spec JSON]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spool", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0-ns", type=int, required=True)
    ap.add_argument("--spec", default="{}", help="LiveSpec fields as JSON")
    a = ap.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import numpy as np

    from inputs import LiveSpec, live_lines, live_schedule

    spec = LiveSpec(**json.loads(a.spec))
    sched = live_schedule(a.seed, a.seconds, spec)
    tick_ns = int(spec.tick_s * 1e9)
    offs = sched["offset_ns"].to_numpy()
    n_ticks = int(offs[-1] // tick_ns) + 1
    # points due in (k*tick, (k+1)*tick] go out at (k+1)*tick
    bounds = np.searchsorted(offs, np.arange(1, n_ticks + 1) * tick_ns, side="right")
    lines = live_lines(sched, a.t0_ns)
    lags_ms = []
    lo = 0
    for k, hi in enumerate(bounds):
        if hi == lo:
            continue
        due_ns = a.t0_ns + (k + 1) * tick_ns
        wait = (due_ns - time.time_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        body = "\n".join(lines[lo:hi]) + "\n"
        # write under a hidden name, then rename: the file source skips
        # names starting with '.', so it never reads a half-written file
        tmp = os.path.join(a.spool, f".part-{k:06d}")
        with open(tmp, "w") as fh:
            fh.write(body)
        os.rename(tmp, os.path.join(a.spool, f"part-{k:06d}.lp"))
        lags_ms.append((time.time_ns() - due_ns) / 1e6)
        lo = hi
    with open(a.report, "w") as fh:
        json.dump({"points": int(lo), "files": len(lags_ms), "lags_ms": lags_ms}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
