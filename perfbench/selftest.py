#!/usr/bin/env python3
"""The benchmark's tests of its own correctness checks.

    python3 perfbench/selftest.py

Builds like run.py, then runs perfbench.SelfTest: the CDC store checks and
the point-in-time answer checks must pass on the program's real output and
fail on corrupted copies (a dropped batch dir, a stale bucket, a dropped or
mismatched answer row). It then checks the KN oracle comparison: it must
accept the program's answers and reject a perturbed score, a dropped row and
a changed column type. Exits non-zero if any case fails.
"""
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
import run  # noqa: E402
import kn_oracle  # noqa: E402


def corrupt_kn(src, dst, change):
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    q = kn_oracle.QUERIES[0]
    t = pq.read_table(os.path.join(dst, q))
    shutil.rmtree(os.path.join(dst, q))
    os.makedirs(os.path.join(dst, q))
    pq.write_table(change(t), os.path.join(dst, q, "part-0.parquet"))


def perturb(t):
    col = t.column("avg_lp").to_pylist()
    col[len(col) // 2] += 1e-4
    return t.set_column(t.schema.get_field_index("avg_lp"), "avg_lp", pa.array(col, pa.float64()))


def widen(t):
    i = t.schema.get_field_index("n_bigrams")
    return t.set_column(i, "n_bigrams", pc.cast(t.column(i), pa.int32()))


def main():
    home = run.spark_home()
    os.makedirs(run.BUILD, exist_ok=True)
    run.build(home)
    work = os.path.join(run.ROOT, ".bench_work", f"selftest-{os.getpid()}")
    try:
        cmd = run.java(home, work, "perfbench.SelfTest", [os.path.join(work, "w")])
        failed = subprocess.run(cmd, cwd=run.ROOT).returncode != 0
        kn = os.path.join(work, "w", "kn")
        cases = [
            ("KN oracle accepts the program's answers", kn, False),
        ]
        for tag, name, change in (("score", "a perturbed KN score", perturb),
                                  ("row", "a dropped KN row", lambda t: t.slice(1)),
                                  ("type", "a changed KN column type", widen)):
            dst = os.path.join(work, "kn_" + tag)
            corrupt_kn(kn, dst, change)
            cases.append((f"KN oracle rejects {name}", dst, True))
        for name, d, want_bad in cases:
            ok = bool(kn_oracle.check(d)) == want_bad
            print(f"{'PASS' if ok else 'FAIL'} {name}", flush=True)
            failed |= not ok
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest: " + ("FAILED" if failed else "all cases passed"))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
