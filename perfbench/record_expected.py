#!/usr/bin/env python3
"""Record perfbench/expected_digests.json and cross-check it once.

    python3 perfbench/record_expected.py [--seeds 1 2] [--no-oracle]

1. Writes the benchmark inputs as single files and checks every benchmark
   slug against its DuckDB oracle (``registry.oracle_sql()`` through
   ``tests/oracle.py``), so the digests recorded next are of correct output.
2. Computes each slug's digest on that layout and on the layout of every
   ``--seeds`` value, in one fresh session per layout.
3. Reports any slug whose digest depends on the layout (row order or file
   split) and exits 1 if there is one; otherwise writes the digests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import gen
import run
from workloads import all_slugs


def digests_for(work: str, seed: int | None, oracle: bool) -> dict[str, list]:
    """Digest of every benchmark slug on one input layout, in a fresh JVM."""
    shutil.rmtree(work, ignore_errors=True)
    run.prepare_env(work, trace=False)
    inputs = os.path.join(work, "inputs")
    gen.write_inputs(inputs, seed or 0, single_file=seed is None)
    os.chdir(work)
    spark, _ = run.start_session()
    from pyspark_coding_challenge_spark import registry

    fns, sqls = registry.queries(), registry.oracle_sql()
    out = {}
    try:
        for slug in all_slugs():
            if oracle:
                from tests.oracle import assert_matches_oracle

                assert_matches_oracle(fns[slug](spark, inputs), sqls[slug], inputs)
                print(f"oracle OK  {slug}", flush=True)
            out[slug] = run.digest(fns[slug](spark, inputs))
    finally:
        run.stop_session(spark)
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, nargs="*", default=[1, 2])
    ap.add_argument("--no-oracle", action="store_true")
    a = ap.parse_args()
    work = os.path.join(run.HERE, ".work", "record")
    layouts = {"single-file": digests_for(work, None, not a.no_oracle)}
    for s in a.seeds:
        layouts[f"seed {s}"] = digests_for(work, s, False)
    base = layouts["single-file"]
    unstable = sorted(slug for slug in base
                      if any(d[slug] != base[slug] for d in layouts.values()))
    for slug in unstable:
        print(f"layout-dependent output: {slug}: "
              + json.dumps({k: d[slug] for k, d in layouts.items()}))
    if unstable:
        return 1
    with open(run.EXPECTED, "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {run.EXPECTED}: {len(base)} slugs, identical on {len(layouts)} layouts")
    return 0


if __name__ == "__main__":
    sys.exit(main())
