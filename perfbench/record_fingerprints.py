"""Regenerate ``fingerprints.json``, the recorded hash of every workload's
inputs for seeds 0..N-1.

    python3 perfbench/record_fingerprints.py [--seeds 100]

Run it from the root of a checkout after a deliberate change to an input
generator (``sources/docgen.py`` or ``perfbench/inputs.py``); the figures
measured before the change then belong to a different workload.
"""
import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", type=int, default=100,
                   help="record seeds 0 .. SEEDS-1")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.run import WORKLOAD_NAMES
    out = {w: {str(s): inputs.fingerprint(w, s) for s in range(args.seeds)}
           for w in WORKLOAD_NAMES}
    with open(inputs.FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {args.seeds} seeds for {len(out)} workloads "
          f"in {inputs.FINGERPRINTS}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
