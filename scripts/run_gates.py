#!/usr/bin/env python
"""Run every correctness gate in sequence and summarize:

1. driver_sim at sf0.01 (the real driver's check)
2. driver_sim at sf0.1 (scale-factor stability)
3. driver_sim --empty (zero-row totality)
4. driver_sim --one (single-row degeneracy)
5. driver_sim --const (all-identical rows: ties + duplicate keys)
6. driver_sim --extreme (value-domain edges: zero vectors, huge/tiny magnitudes)
7. driver_sim --dup (duplicate keys with conflicting payloads)
8. adversarial_sim (NULL/NaN/dup pass + unicode pass)
9. pytest tests/ -m "" (full suite, `slow` tests included)

Usage: python scripts/run_gates.py [--fast]
  --fast skips the sf0.1 pass and the full pytest suite (keeps the
  sf0.01, empty, and adversarial oracle gates — ~20 min instead of ~45).

Exit 0 iff every gate passed.  Intended for round close; individual
gates remain runnable on their own for iteration.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(name: str, cmd: list[str]) -> tuple[str, bool, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, check=False
    )
    dt = time.perf_counter() - t0
    ok = proc.returncode == 0
    tail = "\n".join((proc.stdout or "").strip().splitlines()[-3:])
    print(f"[{'PASS' if ok else 'FAIL'}] {name} ({dt:.0f}s)")
    if not ok:
        print(tail)
        err_tail = "\n".join((proc.stderr or "").strip().splitlines()[-10:])
        if err_tail:
            print(err_tail)
    return name, ok, dt


def main() -> int:
    fast = "--fast" in sys.argv[1:]
    py = sys.executable
    gates = [
        ("driver_sim sf0.01", [py, "scripts/driver_sim.py"]),
        ("driver_sim --empty", [py, "scripts/driver_sim.py", "--empty"]),
        ("driver_sim --one", [py, "scripts/driver_sim.py", "--one"]),
        ("driver_sim --const", [py, "scripts/driver_sim.py", "--const"]),
        ("driver_sim --extreme", [py, "scripts/driver_sim.py", "--extreme"]),
        ("driver_sim --dup", [py, "scripts/driver_sim.py", "--dup"]),
        ("adversarial_sim (2 passes)", [py, "scripts/adversarial_sim.py"]),
    ]
    if not fast:
        gates.insert(
            1, ("driver_sim sf0.1", [py, "scripts/driver_sim.py", "/root/testdata/sf0.1"])
        )
        # -m "": pytest.ini deselects `slow` by default; this gate is
        # the full suite
        gates.append(("pytest", [py, "-m", "pytest", "tests/", "-m", "", "-x", "-q"]))

    results = [run(name, cmd) for name, cmd in gates]
    failed = [n for n, ok, _ in results if not ok]
    total = sum(dt for _, _, dt in results)
    print(f"\n{len(results) - len(failed)}/{len(results)} gates passed "
          f"in {total:.0f}s" + (f"; FAILED: {', '.join(failed)}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
