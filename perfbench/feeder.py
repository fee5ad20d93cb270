"""Open-loop feeder: moves pre-built files into a stream's source
directory on a fixed schedule, whatever the consumer is doing.

    python3 feeder.py STAGING_DIR SOURCE_DIR T0 INTERVAL_S OUT_JSON

File ``i`` (in sorted name order) is due at ``T0 + i * INTERVAL_S``
(epoch seconds) and is moved with an atomic ``os.rename``, so the
stream never lists a half-written file. The actual move times are
written to ``OUT_JSON`` as ``[[name, due, moved], ...]``.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    staging, source, t0, interval, out_json = argv
    t0, interval = float(t0), float(interval)
    moves = []
    for i, name in enumerate(sorted(os.listdir(staging))):
        due = t0 + i * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staging, name), os.path.join(source, name))
        moves.append([name, due, time.time()])
    with open(out_json, "w") as f:
        json.dump(moves, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
