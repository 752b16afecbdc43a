"""Run one benchmark workload and print its result.

  python3 perfbench/run.py --workload zipf_selective --seed 1 --seconds 16 \
      --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. The line before it is an ``info`` object (host, seed,
sample counts, set-up steps). Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("zipf_selective", "zipf_memory")
#: a run that has not finished by then is abandoned (exit code 3)
DEADLINE_S = 170


class Overrun(Exception):
    pass


def _overrun(signum, frame):
    raise Overrun(f"run exceeded {DEADLINE_S}s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size (default: the benchmark's own)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import lucene_clj_spark  # noqa: F401
        import tools.zipf_corpus  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.runner import N_DOCS, Bench

    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(DEADLINE_S)
    try:
        result = Bench(args.workload, args.seed, args.seconds,
                       bool(args.trace), ROOT,
                       args.docs or N_DOCS).run()
    except Overrun as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
