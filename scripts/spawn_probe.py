#!/usr/bin/env python3
"""Count the processes the engine forks, per pass, per slug and per command.

    python3 scripts/spawn_probe.py --workload events_pipeline --passes 3 --seed 1
    python3 scripts/spawn_probe.py --workload registry --passes 2 --sf-dir DIR

pip PySpark ships no native Hadoop library, so Hadoop's local filesystem runs
shell commands (``readlink`` to stat a link, ``chmod`` to set a permission)
and Spark deletes some directories with ``rm -rf``. These forks sit below
every counter Spark keeps. To count them, this script writes one shim per
command in ``SHIMMED`` into a temporary directory put first on ``PATH``
before the Spark JVM starts; each shim appends its command line to a log and
``exec``s the real binary, so only this process tree is affected. The lines
a slug call adds to the log are that call's spawns.

``--workload events_pipeline|corpus_refresh`` runs the benchmark's workload
exactly as ``perfbench/run.py`` sets it up (same session, generated inputs
from ``--seed``, every call followed by the digest action, digests checked).
``--workload registry`` runs every slug in ``registry.queries()`` over the
tables in ``--sf-dir`` (the sf0.01 test data of TESTDATA.md, say) into the
noop sink, the shape of ``bench.py``.

Prints one line per pass and, last, one JSON object: per-pass totals per
command, per-pass per-slug counts per command with the call's wall time and
the CPU time of the whole process tree (reaped children included, so the
forks' own CPU counts), and the slugs that still fork in warm passes.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Commands Hadoop's Shell, Spark's Utils and the launch scripts are known to
# run by name; anything not on PATH is skipped.
SHIMMED = ("readlink", "chmod", "chown", "ln", "rm", "ls", "stat", "df", "du",
           "id", "groups", "whoami", "uname", "setsid", "bash", "sh")


def write_shims(shim_dir: str, log: str, commands=SHIMMED) -> str:
    """Write a logging shim for each of ``commands`` found on ``PATH`` into
    ``shim_dir``; return the ``PATH`` that puts them first."""
    os.makedirs(shim_dir, exist_ok=True)
    for cmd in commands:
        real = shutil.which(cmd)
        if real is None:
            continue
        path = os.path.join(shim_dir, cmd)
        with open(path, "w") as f:
            f.write("#!/bin/sh\n"
                    f'printf "%s\\n" "{cmd} $*" >> {shlex.quote(log)}\n'
                    f'exec {shlex.quote(real)} "$@"\n')
        os.chmod(path, 0o755)
    return os.pathsep.join([shim_dir, os.environ.get("PATH", "")])


def read_log(log: str) -> list[str]:
    try:
        with open(log) as f:
            return f.read().splitlines()
    except FileNotFoundError:
        return []


def run_passes(calls, passes: int, log: str, tree_cpu_s):
    """``calls`` is [(slug, fn)]; fn runs the slug's query to completion and
    returns False when its result is wrong. Returns per-pass {slug: record},
    per-pass {command: spawns} and the number of failed calls."""
    out, totals, n_failed = [], [], 0
    for p in range(passes):
        per_slug, failed = {}, []
        for slug, fn in calls:
            n0 = len(read_log(log))
            c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            try:
                ok = fn()
            except Exception:  # noqa: BLE001 - reported, the pass goes on
                traceback.print_exc()
                ok = False
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(os.getpid()) - c0
            if not ok:
                failed.append(slug)
            lines = read_log(log)[n0:]
            per_slug[slug] = {
                "spawns": dict(collections.Counter(ln.split(" ", 1)[0] for ln in lines)),
                "wall_s": round(wall, 3), "cpu_s": round(cpu, 3)}
        out.append(per_slug)
        n_failed += len(failed)
        t = collections.Counter()
        for rec in per_slug.values():
            t.update(rec["spawns"])
        totals.append(dict(t.most_common()))
        print(f"pass {p} ({'cold' if p == 0 else 'warm'}): "
              f"{t.total()} spawns {totals[-1]}"
              + (f"; FAILED {failed}" if failed else ""), flush=True)
    return out, totals, n_failed


def main() -> int:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "scripts")]
    from codegen_probe import registry_calls, workload_calls
    from run import Bench, prepare_env, start_session, stop_session, tree_cpu_s
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*sorted(WORKLOADS), "registry"])
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1, help="input seed of a benchmark workload")
    ap.add_argument("--sf-dir", help="input tables of --workload registry")
    args = ap.parse_args()
    if args.workload == "registry" and not args.sf_dir:
        ap.error("--workload registry needs --sf-dir")

    work = tempfile.mkdtemp(prefix="spawn_probe-")
    log = os.path.join(work, "spawns.log")
    # before the JVM starts: it resolves commands through the PATH it inherits
    os.environ["PATH"] = write_shims(os.path.join(work, "shims"), log)
    spark = None
    try:
        if args.workload == "registry":
            prepare_env(work, trace=False)
            spark, _ = start_session()
            calls = registry_calls(spark, args.sf_dir)
        else:
            bench = Bench(args.workload, args.seed, 0, False, work)
            bench.setup()
            spark = bench.spark
            calls = workload_calls(bench)
        per_pass, totals, n_failed = run_passes(calls, args.passes, log, tree_cpu_s)
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    warm = per_pass[1:]
    still = {slug: [p[slug]["spawns"] for p in warm] for slug, _ in calls
             if any(p[slug]["spawns"] for p in warm)}
    print(json.dumps({
        "workload": args.workload, "shimmed": list(SHIMMED),
        "spawns_per_pass": totals, "per_slug": per_pass,
        "warm_spawning": still, "failed": n_failed,
    }))
    return 1 if n_failed else 0


if __name__ == "__main__":
    sys.exit(main())
