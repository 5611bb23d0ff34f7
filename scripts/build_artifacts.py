#!/usr/bin/env python
"""CLI for the cross-session artifact builder (llm/artifacts.py): land the
artifacts of ``artifacts.ARTIFACTS`` as parquet that a later job loads
with ``load_all``/``load`` — or, with ``SPARK_GRAFT_ARTIFACT_DIR``
pointing at ``artifact_dir``, that every ``*_for_dir`` builder seeds
from automatically.

Usage:
    python scripts/build_artifacts.py <sf_dir> <artifact_dir> [names...]
    python scripts/build_artifacts.py --incremental <old_sf_dir> <new_sf_dir> <artifact_dir>
    python scripts/build_artifacts.py --compact <artifact_dir>

``names`` defaults to every artifact in the table (``materialize_all``);
given names are built in table order, which is dependency order. Unknown
names exit 2, listing the table's names, before any Spark work.

``--compact`` is the maintenance pass (r15): rewrite any artifact leaf —
or any pbucket partition of the hive-partitioned ``pq_codes`` — whose
part-file count exceeds the threshold (``artifacts.COMPACT_MAX_PART_FILES``
/ ``COMPACT_MAX_BUCKET_FILES``), coalesced, preserving the meta sidecars
byte-for-byte so every lineage fold and hash gate stays green. Run it
offline between refreshes (the table-format OPTIMIZE contract); prints
the per-artifact before/after file counts as JSON.

``--incremental`` refreshes every refreshable artifact from the snapshot
diff between the two corpus dirs instead of rebuilding it from the whole
corpus (``artifacts.refresh``): an artifact patches when its lineage
digest matches the OLD corpus, else it falls back to a warned full
rebuild from the NEW corpus. With stored ``doc_digests`` /
``vec_digests`` artifacts the old corpus dir is never read — only its
digests are. Prints the refresh summary as JSON: ``{name: mode}`` plus
``reasons``, ``churn``, ``supplied`` and ``walls``.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    argv = sys.argv[1:]
    incremental = "--incremental" in argv
    compact = "--compact" in argv
    args = [a for a in argv if not a.startswith("-")]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark_coding_challenge_spark.llm import artifacts as A

    if compact:
        if len(args) != 1:
            print(__doc__, file=sys.stderr)
            raise SystemExit(2)
        from pyspark_coding_challenge_spark.session import get_spark

        spark = get_spark(app_name="compact_artifacts")
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(A.compact_artifacts(spark, args[0])))
        spark.stop()
        return

    if incremental:
        if len(args) != 3:
            print(__doc__, file=sys.stderr)
            raise SystemExit(2)
        old_sf, new_sf, artifact_dir = args
        from pyspark_coding_challenge_spark.session import get_spark

        spark = get_spark(app_name="build_artifacts_incremental")
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(A.refresh(spark, old_sf, new_sf, artifact_dir)))
        spark.stop()
        return

    if len(args) < 2:
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    sf_dir, artifact_dir = args[0], args[1]

    names = args[2:]
    unknown = [n for n in names if n not in A.ARTIFACTS]
    if unknown:
        print(f"unknown artifact names: {unknown}; choose from "
              f"{list(A.ARTIFACTS)}", file=sys.stderr)
        raise SystemExit(2)

    from pyspark_coding_challenge_spark.session import get_spark

    spark = get_spark(app_name="build_artifacts")
    spark.sparkContext.setLogLevel("ERROR")
    # one shared digest scan per side across every artifact landed, and
    # shared_spans derives from the just-landed span_pos index (r9 review
    # finding: per-name calls with digest=None paid one corpus digest scan
    # PER artifact and re-tokenized the corpus for spans right after
    # span_pos landed)
    for n, path in A.materialize_all(spark, sf_dir, artifact_dir,
                                     names or None).items():
        print(f"{n}: {path}")
    spark.stop()


if __name__ == "__main__":
    main()
