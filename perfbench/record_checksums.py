"""Record the (conv_id, entity_id) checksums the output checks compare with.

    python3 perfbench/record_checksums.py --seeds 0-15

Run from the repository root, on the engine version whose output is the
reference. Runs every workload once per seed, each in its own process, and
adds the checksums to ``perfbench/checksums.json``, printing each run's
result line; the benchmark itself only reads that file. A seed already in
the file is checked against it by the run, so a run that disagrees stops
the recording: delete the file to record a new reference.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import CHECKSUMS, WORKLOADS, checksum_key  # noqa: E402


def seed_range(text: str) -> range:
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seed_range, required=True, help="e.g. 0-15")
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = ap.parse_args(argv)
    for seed in args.seeds:
        for name in args.workload or sorted(WORKLOADS):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name]
            cmd += ["--seed", str(seed), "--seconds", "0", "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
            lines = [ln for ln in out.stdout.splitlines() if ln.startswith("settings ")]
            if out.returncode != 0 or not lines:
                print(out.stdout[-2000:], out.stderr[-2000:], file=sys.stderr)
                print(f"{name} seed {seed}: run failed, nothing recorded", file=sys.stderr)
                return 1
            info = json.loads(lines[-1].split(" ", 1)[1])
            n_inc = sum(op[0] == "increment" for op in info["ops"])
            try:
                with open(CHECKSUMS) as f:
                    known = json.load(f)
            except FileNotFoundError:
                known = {}
            known[checksum_key(name, seed, n_inc)] = info["checksum"]
            with open(CHECKSUMS, "w") as f:
                json.dump(dict(sorted(known.items())), f, indent=1)
                f.write("\n")
            print(f"{name} seed {seed}: {out.stdout.splitlines()[-1]}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
