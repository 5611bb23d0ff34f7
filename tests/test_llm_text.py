"""Unit tests for the sequence-packing kernel (llm/text.py)."""

from __future__ import annotations

from pyspark_coding_challenge_spark.llm.text import SEQ_LEN, text_pack_sequences


def _pack(spark, tmp_path, rows):
    """Write a tiny documents.parquet and run the packer over it."""
    df = spark.createDataFrame(
        rows, schema="doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = text_pack_sequences(spark, str(tmp_path))
    return {r.doc_id: r for r in out.collect()}


def test_pack_sequences_chunks_are_contiguous_per_source(spark, tmp_path):
    # three docs in one source: 300 + 300 + 200 tokens with SEQ_LEN=512
    # token stream: doc0 [0,300) chunk 0; doc1 [300,600) chunks 0-1;
    # doc2 [600,800) chunk 1.
    def words(n):
        return " ".join(["w"] * n)

    got = _pack(
        spark,
        tmp_path,
        [
            (0, words(300), "en", "s1", 0),
            (1, words(300), "en", "s1", 0),
            (2, words(200), "en", "s1", 0),
        ],
    )
    assert SEQ_LEN == 512
    assert (got[0].chunk_start, got[0].chunk_end) == (0, 0)
    assert (got[1].chunk_start, got[1].chunk_end) == (0, 1)
    assert (got[2].chunk_start, got[2].chunk_end) == (1, 1)
    assert got[1].n_tokens == 300


def test_pack_sequences_sources_pack_independently(spark, tmp_path):
    def words(n):
        return " ".join(["w"] * n)

    got = _pack(
        spark,
        tmp_path,
        [
            (0, words(600), "en", "s1", 0),
            (1, words(10), "en", "s2", 0),  # other shard restarts at chunk 0
        ],
    )
    assert (got[0].chunk_start, got[0].chunk_end) == (0, 1)
    assert (got[1].chunk_start, got[1].chunk_end) == (0, 0)


def test_pack_sequences_exact_boundary_does_not_leak_into_next_chunk(spark, tmp_path):
    def words(n):
        return " ".join(["w"] * n)

    # 512 tokens end exactly at the chunk edge: [0,512) is chunk 0 only
    got = _pack(spark, tmp_path, [(0, words(512), "en", "s1", 0)])
    assert (got[0].chunk_start, got[0].chunk_end) == (0, 0)


# ---------------------------------------------------------------------------
# mixture sampling (llm/profiling.py)
# ---------------------------------------------------------------------------


def test_mixture_sample_is_deterministic_and_rate_faithful(spark):
    from pyspark_coding_challenge_spark.llm.profiling import mixture_sample
    from pyspark_coding_challenge_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.01"
    a = {(r.doc_id, r.source, r.rate_bp) for r in mixture_sample(spark, sf).collect()}
    b = {(r.doc_id, r.source, r.rate_bp) for r in mixture_sample(spark, sf).collect()}
    assert a == b and a  # content-addressed: identical across runs

    # every source keeps at most its rate's worth (loose upper bound:
    # binomial tail with n=25 — allow generous slack) and rates vary
    rates = {}
    kept = {}
    for _, source, rate_bp in a:
        rates[source] = rate_bp
    for doc_id, source, _ in a:
        kept[source] = kept.get(source, 0) + 1
    assert len(set(rates.values())) > 1  # heterogeneous rates across sources
    total = read_table(spark, sf, "documents").groupBy("source").count().collect()
    n_by_source = {r.source: r["count"] for r in total}
    for source, n_kept in kept.items():
        assert n_kept <= n_by_source[source]
        # rate 2000-9999 bp; with n=25 a >0.999-confidence bound is loose
        assert n_kept / n_by_source[source] <= rates[source] / 10000 + 0.35


# ---------------------------------------------------------------------------
# PII scrub + span-duplication kernels (crafted inputs — the oracle equality
# in the registry suite can't catch a semantics change applied to BOTH sides)
# ---------------------------------------------------------------------------


def _docs_dir(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, schema="doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_pii_scrub_counts_organic_and_injected_pii(spark, tmp_path):
    from pyspark_coding_challenge_spark.llm.text import text_pii_scrub

    sf = _docs_dir(spark, tmp_path, [
        # organic email + phone + ip IN the text, plus the injected triple
        (1, "reach a.b+c@mail.example.org or +4915712345678 at 192.168.0.1 now", "en", "s", 0),
        (2, "no personal data here at all", "en", "s", 0),
    ])
    got = {r.doc_id: r for r in text_pii_scrub(spark, sf).collect()}
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (2, 2, 2)
    assert (got[2].n_emails, got[2].n_phones, got[2].n_ips) == (1, 1, 1)
    assert got[1].scrubbed_md5 != got[2].scrubbed_md5


def test_span_dup_exact_coverage_on_crafted_pair(spark, tmp_path):
    from pyspark_coding_challenge_spark.llm.text import SPAN_K, text_span_dup

    k = SPAN_K
    shared_run = " ".join(f"s{i}" for i in range(k))        # exactly one shared window
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    sf = _docs_dir(spark, tmp_path, [
        (1, f"{uniq('a', 4)} {shared_run} {uniq('b', 4)}", "en", "s", 0),
        (2, f"{uniq('c', 4)} {shared_run} {uniq('d', 4)}", "en", "s", 0),
        (3, uniq("e", k + 6), "en", "s", 0),                # nothing shared
    ])
    got = {r.doc_id: r for r in text_span_dup(spark, sf).collect()}
    # docs 1/2: 4 + k + 4 tokens; the single shared k-window covers k tokens
    for d in (1, 2):
        assert got[d].n_tokens == k + 8
        assert got[d].shared_starts == 1
        assert got[d].covered_tokens == k
        assert abs(got[d].span_dup_frac - k / (k + 8)) < 1e-6
    assert got[3].shared_starts == 0 and got[3].covered_tokens == 0
    assert got[3].span_dup_frac == 0.0


def test_span_scrub_removes_exactly_the_shared_window(spark, tmp_path):
    """Removal twin of the span_dup signal: docs sharing one k-window lose
    exactly those k tokens (reassembled in order), an untouched doc's
    scrubbed md5 equals its original text's md5, and identical docs scrub
    to the empty string."""
    import hashlib

    from pyspark_coding_challenge_spark.llm.text import SPAN_K, text_span_scrub

    k = SPAN_K
    shared_run = " ".join(f"s{i}" for i in range(k))
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    t3 = uniq("e", k + 6)
    dup = " ".join(f"t{i}" for i in range(k + 5))
    sf = _docs_dir(spark, tmp_path, [
        (1, f"{uniq('a', 4)} {shared_run} {uniq('b', 4)}", "en", "s", 0),
        (2, f"{uniq('c', 4)} {shared_run} {uniq('d', 4)}", "en", "s", 0),
        (3, t3, "en", "s", 0),            # nothing shared
        (4, dup, "en", "s", 0), (5, dup, "en", "s", 0),  # fully duplicated
    ])
    from pyspark_coding_challenge_spark.llm.text import clear_span_cache
    try:
        got = {r.doc_id: r for r in text_span_scrub(spark, sf).collect()}
    finally:
        clear_span_cache(spark)
    exp1 = f"{uniq('a', 4)} {uniq('b', 4)}"
    assert got[1].kept_tokens == 8
    assert got[1].scrubbed_md5 == hashlib.md5(exp1.encode()).hexdigest()
    assert got[3].kept_tokens == k + 6
    assert got[3].scrubbed_md5 == hashlib.md5(t3.encode()).hexdigest()
    for d in (4, 5):
        assert got[d].kept_tokens == 0
        assert got[d].scrubbed_md5 == hashlib.md5(b"").hexdigest()


def test_span_scrub_matches_python_model_on_random_corpus(spark, tmp_path):
    """Model-based check on a random small-vocab corpus (small vocab forces
    organic cross-document span collisions): covered-position sets, kept
    counts, and reconstructed-text md5s must match a pure-Python reference."""
    import hashlib
    import random

    from pyspark_coding_challenge_spark.llm.text import SPAN_K, text_span_scrub

    k = SPAN_K
    rng = random.Random(29)
    docs = {d: [f"v{rng.randint(0, 5)}" for _ in range(rng.randint(1, 3 * k))]
            for d in range(1, 31)}
    sf = _docs_dir(spark, tmp_path, [
        (d, " ".join(toks), "en", "s", 0) for d, toks in docs.items()
    ])
    # python reference: gram -> set of docs; shared gram = in >= 2 docs
    gram_docs: dict[tuple, set] = {}
    for d, toks in docs.items():
        for i in range(len(toks) - k + 1):
            gram_docs.setdefault(tuple(toks[i:i + k]), set()).add(d)
    model = {}
    for d, toks in docs.items():
        covered = set()
        for i in range(len(toks) - k + 1):
            if len(gram_docs[tuple(toks[i:i + k])]) > 1:
                covered |= set(range(i, i + k))
        kept = [t for p, t in enumerate(toks) if p not in covered]
        model[d] = (len(toks), len(kept),
                    hashlib.md5(" ".join(kept).encode()).hexdigest())
    from pyspark_coding_challenge_spark.llm.text import clear_span_cache
    try:
        got = {r.doc_id: (r.n_tokens, r.kept_tokens, r.scrubbed_md5)
               for r in text_span_scrub(spark, sf).collect()}
    finally:
        clear_span_cache(spark)
    assert got == model


def test_rare_tokens_scores_against_corpus_not_document(spark, tmp_path):
    from pyspark_coding_challenge_spark.llm.text import text_rare_tokens

    sf = _docs_dir(spark, tmp_path, [
        (1, "apple banana apple", "en", "s", 0),   # apple tf=3 (not rare)
        (2, "apple cherry", "en", "s", 0),
        (3, "zzz yyy", "en", "s", 0),              # all hapax
        (4, "   ", "en", "s", 0),                  # zero tokens — still one row
    ])
    got = {r.doc_id: r for r in text_rare_tokens(spark, sf).collect()}
    assert set(got) == {1, 2, 3, 4}                # one row per document
    assert (got[1].n_tokens, got[1].n_rare, got[1].n_hapax) == (3, 1, 1)
    assert abs(got[1].rare_frac - 1 / 3) < 1e-6
    assert (got[2].n_tokens, got[2].n_rare) == (2, 1)  # apple common CORPUS-wide
    assert (got[3].n_rare, got[3].n_hapax, got[3].rare_frac) == (2, 2, 1.0)
    assert (got[4].n_tokens, got[4].rare_frac) == (0, 0.0)


def test_chunking_boundaries_overlap_and_tail_clamp(spark, tmp_path):
    import hashlib

    from pyspark_coding_challenge_spark.llm.text import (
        CHUNK_STRIDE, CHUNK_TOKENS, text_chunk,
    )

    k, st = CHUNK_TOKENS, CHUNK_STRIDE
    toks = [f"w{i}" for i in range(1, k + 2 * st + 4)]  # n = k + 2*st + 3
    n = len(toks)
    sf = _docs_dir(spark, tmp_path, [
        (1, " ".join(toks), "en", "s", 0),
        (2, "only three tokens", "en", "s", 0),  # shorter than one chunk
    ])
    rows = text_chunk(spark, sf).collect()
    c1 = sorted([r for r in rows if r.doc_id == 1], key=lambda r: r.chunk_idx)
    # starts at 1, 1+st, 1+2st, ... while <= n
    exp_starts = list(range(1, n + 1, st))
    assert [r.chunk_start for r in c1] == exp_starts
    assert [r.chunk_idx for r in c1] == list(range(len(exp_starts)))
    for r in c1:
        assert r.chunk_tokens == min(k, n - r.chunk_start + 1)
        exp = " ".join(toks[r.chunk_start - 1: r.chunk_start - 1 + k])
        assert r.chunk_md5 == hashlib.md5(exp.encode()).hexdigest()
    # consecutive chunks overlap by exactly k - st tokens; union covers 1..n
    covered = set()
    for r in c1:
        covered |= set(range(r.chunk_start, r.chunk_start + r.chunk_tokens))
    assert covered == set(range(1, n + 1))
    c2 = [r for r in rows if r.doc_id == 2]
    assert len(c2) == 1 and c2[0].chunk_tokens == 3 and c2[0].chunk_idx == 0


def test_chunking_matches_python_model_on_random_lengths(spark, tmp_path):
    """Model-based check over random token counts (including n < stride,
    n == k, n % stride boundaries): starts, clamps, and md5s must agree
    with a pure-Python reference."""
    import hashlib
    import random

    from pyspark_coding_challenge_spark.llm.text import (
        CHUNK_STRIDE, CHUNK_TOKENS, text_chunk,
    )

    k, st = CHUNK_TOKENS, CHUNK_STRIDE
    rng = random.Random(11)
    docs = {}
    for doc_id in range(1, 41):
        n = rng.choice([1, 2, st - 1, st, st + 1, k - 1, k, k + 1,
                        rng.randint(1, 4 * k)])
        docs[doc_id] = [f"t{doc_id}_{i}" for i in range(n)]
    sf = _docs_dir(spark, tmp_path, [
        (d, " ".join(toks), "en", "s", 0) for d, toks in docs.items()
    ])
    model = {}
    for d, toks in docs.items():
        n = len(toks)
        for idx, s in enumerate(range(1, n + 1, st)):
            chunk = toks[s - 1: s - 1 + k]
            model[(d, idx)] = (s, len(chunk),
                              hashlib.md5(" ".join(chunk).encode()).hexdigest())
    got = {(r.doc_id, r.chunk_idx): (r.chunk_start, r.chunk_tokens, r.chunk_md5)
           for r in text_chunk(spark, sf).collect()}
    assert got == model


def test_shuffle_shard_deterministic_balanced_and_dense(spark, tmp_path):
    from pyspark_coding_challenge_spark.llm.profiling import N_SHARDS, shuffle_shard

    sf = _docs_dir(spark, tmp_path, [
        (i, f"doc {i}", "en", "s", 0) for i in range(1, 301)
    ])
    a = sorted((r.doc_id, r.shard, r.shard_pos) for r in shuffle_shard(spark, sf).collect())
    b = sorted((r.doc_id, r.shard, r.shard_pos) for r in shuffle_shard(spark, sf).collect())
    assert a == b and len(a) == 300  # reproducible permutation, no loss
    by_shard = {}
    for _, sh, pos in a:
        assert 0 <= sh < N_SHARDS
        by_shard.setdefault(sh, []).append(pos)
    for sh, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense rank per shard
    # uniform hash => no empty shard and no mega-shard at 300 rows / 16 shards
    sizes = [len(v) for v in by_shard.values()]
    assert len(by_shard) == N_SHARDS and max(sizes) <= 3 * min(sizes)


def test_span_dup_overlapping_windows_cover_union_not_sum(spark, tmp_path):
    from pyspark_coding_challenge_spark.llm.text import SPAN_K, text_span_dup

    k = SPAN_K
    # identical docs: every window shared; coverage = n_tokens, not starts*k
    text = " ".join(f"t{i}" for i in range(k + 5))
    sf = _docs_dir(spark, tmp_path, [
        (1, text, "en", "s", 0), (2, text, "en", "s", 0),
    ])
    got = {r.doc_id: r for r in text_span_dup(spark, sf).collect()}
    for d in (1, 2):
        assert got[d].shared_starts == 6          # (k+5) - k + 1 starts
        assert got[d].covered_tokens == k + 5     # full union coverage
        assert got[d].span_dup_frac == 1.0


def test_pii_counts_follow_scrub_order(spark, tmp_path):
    """round-5 review fix: a phone-shaped digit run INSIDE an email's local
    part is consumed by the email scrub and must NOT also count as a phone
    (counts describe exactly what the sequential scrub replaced)."""
    from pyspark_coding_challenge_spark.llm.text import text_pii_scrub

    spark.createDataFrame(
        [(1, "reach me at +4915112345678@sms.example.com thanks", "en", "s", 48)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    row = text_pii_scrub(spark, str(tmp_path)).collect()[0]
    # the embedded address + the deterministic augmentation email
    assert row.n_emails == 2
    # ONLY the augmentation phone: the +49... run was consumed by <EMAIL>
    assert row.n_phones == 1
    assert row.n_ips == 1
