#!/usr/bin/env python3
"""Regenerate perfbench/pins.json: the corpus_kernels output (row count and
content hash per kernel) for every input variant, as the current graft
computes it. Run from the repository root after a deliberate change of a
kernel's output:  python3 perfbench/pin.py
"""
import json
import os
import shutil
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

VARIANTS = 10


def main():
    classes = build.build()
    pins = {}
    for v in range(VARIANTS):
        work = os.path.abspath(os.path.join(build.BUILD, f"pin-{os.getpid()}-{v}"))
        os.makedirs(work)
        try:
            args = SimpleNamespace(workload="corpus_kernels", seed=v, seconds=0, trace=0)
            rec = run.run_jvm(classes, work, args)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        pins[str(v)] = {c["name"]: [c["rows"], c["hash"]] for c in rec["checks"]}
        print(f"variant {v}: {pins[str(v)]}", flush=True)
    with open(os.path.join(run.HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
