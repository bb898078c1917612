"""Invariant tests for the training-data operators on PLANTED corpora:
the oracle-parity sweep proves cross-engine equality on real testdata;
these prove the *semantics* (conservation, quota edges, determinism) on
inputs constructed to hit them."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from kafka_spark_streaming_eval_spark.plans.registry import all_queries
from tests.conftest import SF_DIR

SPECS = all_queries()


def _write_docs(path, rows):
    """rows: list of (doc_id, text, lang, source)."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array([r[2] for r in rows]),
                "source": pa.array([r[3] for r in rows]),
                "n_chars": pa.array([len(r[1]) for r in rows], type=pa.int64()),
            }
        ),
        str(path),
    )


@pytest.fixture()
def planted_dir(tmp_path):
    # 30 docs, 10 tokens each, one lang, sources spanning all 4 weights
    rows = []
    for i in range(30):
        src = f"src{i % 4}"  # weights 1..4 -> keep 25/50/75/100%
        rows.append((i, " ".join(f"w{i}t{j}" for j in range(10)), "en", src))
    _write_docs(tmp_path / "documents.parquet", rows)
    return str(tmp_path)


def test_pack_sequences_conserves_tokens(spark, planted_dir):
    """Every token lands in exactly one bin: sum(bin_tokens) == corpus
    total, and each (lang, shard) stream's bins start at 0 and are
    contiguous."""
    out = SPECS["pipeline_pack_sequences"].fn(spark, planted_dir).collect()
    assert sum(r.bin_tokens for r in out) == 30 * 10
    streams = {}
    for r in out:
        streams.setdefault((r.lang, r.shard), []).append(r.bin_id)
    for key, bins in streams.items():
        bins = sorted(bins)
        assert bins == list(range(len(bins))), (key, bins)


def test_pack_sequences_bin_boundaries(spark, tmp_path):
    """Docs of 1000 tokens against a 2048 budget: the third doc STARTS at
    2000 (inside bin 0) and straddles into bin 1 whole — the documented
    greedy concat-and-chunk rule."""
    rows = [(i, " ".join("x" for _ in range(1000)), "en", "src0") for i in range(4)]
    _write_docs(tmp_path / "documents.parquet", rows)
    # pin every doc into ONE stream: same lang and force one shard by using
    # doc_ids that share an md5 first hex digit is fragile — instead check
    # totals per stream add up and no stream has a gap
    out = SPECS["pipeline_pack_sequences"].fn(spark, str(tmp_path)).collect()
    assert sum(r.bin_tokens for r in out) == 4000
    for r in out:
        # a bin never holds more than budget + one straddling doc's tokens
        assert r.bin_tokens <= 2048 + 1000


def test_mix_quota_weight_semantics(spark, planted_dir):
    """Weight-4 sources keep every token; every source keeps at least its
    per-shard floor and the kept set is deterministic across runs."""
    out1 = {r.source: r for r in SPECS["pipeline_mix_quota_sample"].fn(spark, planted_dir).collect()}
    out2 = {r.source: r for r in SPECS["pipeline_mix_quota_sample"].fn(spark, planted_dir).collect()}
    # deterministic: identical counts run-to-run
    assert {k: (v.n_docs_kept, v.tokens_kept) for k, v in out1.items()} == {
        k: (v.n_docs_kept, v.tokens_kept) for k, v in out2.items()
    }
    full = out1["src3"]  # weight 4 -> keep 100%
    assert full.tokens_kept == full.tokens_total
    assert full.n_docs_kept == full.n_docs_total
    quarter = out1["src0"]  # weight 1 -> target 25%
    assert quarter.target_tokens == quarter.tokens_total // 4
    assert 0 < quarter.tokens_kept < quarter.tokens_total


def test_decontaminate_planted_overlap(spark, tmp_path):
    """A corpus doc sharing a 3-gram with an eval doc (doc_id % 50 == 0)
    must be flagged; a disjoint doc must not."""
    eval_text = "alpha beta gamma delta epsilon"
    rows = [
        (0, eval_text, "en", "src0"),  # eval slice (0 % 50 == 0)
        (1, "prefix words then alpha beta gamma appears here", "en", "src0"),
        (2, "completely disjoint vocabulary nothing shared at all", "en", "src0"),
    ]
    _write_docs(tmp_path / "documents.parquet", rows)
    out = {r.doc_id: r for r in SPECS["text_decontaminate_ngrams"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}  # eval doc excluded from the corpus report
    assert out[1].contaminated and out[1].n_overlap >= 1
    assert not out[2].contaminated and out[2].n_overlap == 0


def test_repetition_ratio_planted(spark, tmp_path):
    """A doc that repeats one 3-gram must score a positive dup_fraction and
    the right max_repeat; an all-distinct doc scores 0."""
    rows = [
        (1, "a b c a b c a b c", "en", "src0"),  # 'a b c' x3 among 7 shingles
        (2, "one two three four five six", "en", "src0"),  # all distinct
        (3, "xx yy", "en", "src0"),  # < 3 tokens: no shingles
    ]
    _write_docs(tmp_path / "documents.parquet", rows)
    out = {r.doc_id: r for r in SPECS["text_repetition_ratio"].fn(spark, str(tmp_path)).collect()}
    assert out[1].max_repeat == 3 and out[1].dup_fraction > 0
    assert out[2].max_repeat == 1 and out[2].dup_fraction == 0.0
    assert out[3].n_shingles == 0 and out[3].dup_fraction == 0.0


def test_prefix_containment_planted(spark, tmp_path):
    """A strict token-prefix doc must pair with its container; a doc that
    diverges inside the 8-token block key must not."""
    base = "a b c d e f g h i j k l"  # 12 tokens
    rows = [
        (1, "a b c d e f g h", "en", "src0"),         # 8-token strict prefix
        (2, base, "en", "src0"),                      # container
        (3, "a b c d e f g X i j k l", "en", "src0"), # 8th token differs
        (4, "a b c d e f g hh", "en", "src0"),        # char-prefix but not token-prefix
    ]
    _write_docs(tmp_path / "documents.parquet", rows)
    out = SPECS["dedup_prefix_containment"].fn(spark, str(tmp_path)).collect()
    pairs = {(r.contained_id, r.container_id) for r in out}
    assert (1, 2) in pairs
    assert not any(3 in p or 4 in p for p in pairs)


def test_vocab_growth_conservation(spark, tmp_path):
    """new_tokens sums to the distinct vocabulary; cum_vocab is its running
    total; every bin index is within [0, VOCAB_GROWTH_BINS)."""
    from kafka_spark_streaming_eval_spark.operators.text import VOCAB_GROWTH_BINS

    rows = [
        (i, " ".join(f"tok{i}_{j}" for j in range(5)) + " shared", "en", "src0")
        for i in range(20)
    ]
    _write_docs(tmp_path / "documents.parquet", rows)
    out = sorted(
        SPECS["text_vocab_growth"].fn(spark, str(tmp_path)).collect(),
        key=lambda r: r.bin,
    )
    vocab = 20 * 5 + 1  # 5 unique tokens per doc + one shared token
    assert sum(r.new_tokens for r in out) == vocab
    assert out[-1].cum_vocab == vocab
    assert all(0 <= r.bin < VOCAB_GROWTH_BINS for r in out)
    running = 0
    for r in out:
        running += r.new_tokens
        assert r.cum_vocab == running


def test_source_vocab_overlap_planted(spark, tmp_path):
    """Identical-vocab sources score jaccard 1.0; disjoint sources emit no
    intersection row at all (inner join on shared tokens)."""
    rows = [
        (1, "x y z", "en", "srcA"),
        (2, "x y z", "en", "srcB"),
        (3, "p q r", "en", "srcC"),
    ]
    _write_docs(tmp_path / "documents.parquet", rows)
    out = SPECS["text_source_vocab_overlap"].fn(spark, str(tmp_path)).collect()
    rows_by_pair = {(r.src_a, r.src_b): r for r in out}
    assert rows_by_pair[("srcA", "srcB")].jaccard == 1.0
    assert all("srcC" not in pair for pair in rows_by_pair)


def test_centroid_confusion_separable(spark, tmp_path):
    """Two well-separated clusters: the confusion matrix is purely diagonal
    and accounts for every vector."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs, labels = [], []
    for i in range(20):
        lab = i % 2
        # label 0 along +e0, label 1 along +e1, tiny deterministic jitter
        v = [0.0] * 8
        v[lab] = 1.0
        v[7] = 0.01 * (i % 5)
        vecs.append(v)
        labels.append(lab)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(20), type=pa.int64()),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
                "label": pa.array(labels, type=pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    out = SPECS["sim_centroid_confusion"].fn(spark, str(tmp_path)).collect()
    assert sum(r.n_vectors for r in out) == 20
    assert all(r.true_label == r.pred_label for r in out)


def test_stratified_split_partitions_corpus(spark, tmp_path):
    """Every document lands in exactly one split (counts conserve), and
    placement is identical under a different shuffle layout."""
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(4)), "en", f"src{i % 3}")
        for i in range(60)
    ]
    _write_docs(tmp_path / "documents.parquet", rows)
    fn = SPECS["pipeline_stratified_split"].fn
    out = fn(spark, str(tmp_path)).collect()
    assert sum(r.n_docs for r in out) == 60
    assert {r.split for r in out} <= {"train", "val", "test"}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        alt = fn(spark, str(tmp_path)).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    key = lambda r: (r.source, r.lang, r.split, r.n_docs, r.n_tokens)
    assert sorted(map(key, out)) == sorted(map(key, alt))


def test_sample_k_per_group_bounds_and_determinism(spark, tmp_path):
    """At most K docs per group, ranks contiguous from 1, and the kept set
    is identical under a different shuffle layout."""
    from kafka_spark_streaming_eval_spark.operators.relational import (
        SAMPLE_K_PER_GROUP,
    )

    rows = [
        (i, f"doc {i}", "en", f"src{i % 4}") for i in range(40)
    ] + [(100, "lone doc", "en", "srcLone")]  # group smaller than K
    _write_docs(tmp_path / "documents.parquet", rows)
    fn = SPECS["sample_k_per_group"].fn
    out = fn(spark, str(tmp_path)).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.smp_rank)
    for src, ranks in by_src.items():
        assert len(ranks) <= SAMPLE_K_PER_GROUP
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    assert by_src["srcLone"] == [1]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        alt = fn(spark, str(tmp_path)).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    key = lambda r: (r.source, r.doc_id, r.smp_rank)
    assert sorted(map(key, out)) == sorted(map(key, alt))


def _write_events(path, rows):
    """rows: list of (event_id, ts_iso, user_id, event_type, value)."""
    import datetime

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "ts": pa.array(
                    [datetime.datetime.fromisoformat(r[1]) for r in rows],
                    type=pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([float(r[4]) for r in rows], type=pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        str(path),
    )


def test_funnel_requires_strict_order(spark, tmp_path):
    """A click BEFORE the first view must not advance the funnel; a
    correctly ordered user converts end-to-end."""
    rows = [
        # user 1: view -> click -> purchase, strictly ordered => full funnel
        (1, "2024-01-01T10:00:00", 1, "view", 1.0),
        (2, "2024-01-01T11:00:00", 1, "click", 1.0),
        (3, "2024-01-01T12:00:00", 1, "purchase", 1.0),
        # user 2: click precedes its only view => stops at stage 1
        (4, "2024-01-02T09:00:00", 2, "click", 1.0),
        (5, "2024-01-02T10:00:00", 2, "view", 1.0),
        (6, "2024-01-02T11:00:00", 2, "purchase", 1.0),
        # user 3: view then purchase but no click => stops at stage 1
        (7, "2024-01-03T09:00:00", 3, "view", 1.0),
        (8, "2024-01-03T10:00:00", 3, "purchase", 1.0),
        # user 4: never views => not in the funnel at all
        (9, "2024-01-04T09:00:00", 4, "click", 1.0),
    ]
    _write_events(tmp_path / "events.parquet", rows)
    r = SPECS["agg_funnel_conversion"].fn(spark, str(tmp_path)).collect()[0]
    assert (r.n_view, r.n_view_click, r.n_full_funnel) == (3, 1, 1)


def test_cohort_retention_offsets(spark, tmp_path):
    """Cohort week = first-activity week; later activity lands at the right
    whole-week offset; per-user-week activity counts once."""
    rows = [
        # user 1 first active Mon 2024-01-01 week, again twice in wk+2
        (1, "2024-01-02T10:00:00", 1, "view", 1.0),
        (2, "2024-01-16T10:00:00", 1, "click", 1.0),
        (3, "2024-01-17T10:00:00", 1, "view", 1.0),
        # user 2 only active in the 2024-01-08 week
        (4, "2024-01-10T10:00:00", 2, "view", 1.0),
    ]
    _write_events(tmp_path / "events.parquet", rows)
    out = SPECS["agg_cohort_retention"].fn(spark, str(tmp_path)).collect()
    got = {
        (r.cohort_week.date().isoformat(), r.week_offset): r.n_active for r in out
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_neardup_decontamination_catches_exact_copy(spark, tmp_path):
    """A verbatim copy of an eval doc shares every LSH band and must be
    flagged; an unrelated doc must not."""
    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, eval_text, "en", "src0"),  # eval slice (0 % 50 == 0)
        (1, eval_text, "en", "src0"),  # exact copy in the training slice
        (2, "totally different words with no shared shingles at all here", "en", "src0"),
    ]
    _write_docs(tmp_path / "documents.parquet", rows)
    out = {r.doc_id: r.n_shared_bands
           for r in SPECS["text_decontaminate_neardup"].fn(spark, str(tmp_path)).collect()}
    assert out.get(1) == 4  # all four bands shared
    assert 2 not in out


def test_sessionized_conversion_view_only_user_counts_zero(spark, tmp_path):
    """A user whose only session contains a single view must report
    n_converted = 0, not NULL (sum over all-NULL conditions is the trap;
    the fixtures happen to contain no such user)."""
    rows = [
        (1, "2024-01-01T10:00:00", 7, "view", 1.0),
        (2, "2024-01-01T10:00:00", 8, "view", 1.0),
        (3, "2024-01-01T11:00:00", 8, "click", 1.0),
    ]
    _write_events(tmp_path / "events.parquet", rows)
    out = {
        r.user_id: (r.n_sessions, r.n_converted)
        for r in SPECS["window_sessionized_conversion"].fn(spark, str(tmp_path)).collect()
    }
    assert out[7] == (1, 0)  # view-only: zero, never NULL
    assert out[8] == (1, 1)


# ---------------------------------------------------------------------------
# Chunking / batching / shard-assignment invariants
# ---------------------------------------------------------------------------


def test_chunk_overlap_covers_every_token(spark, tmp_path):
    """Chunks tile each document completely: the last chunk ends exactly at
    n_tokens, consecutive starts advance by the stride, and every chunk but
    the final one holds the full window (doc lengths straddle the window
    size on both sides)."""
    from kafka_spark_streaming_eval_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    rows = [
        (i, " ".join(f"d{i}w{j}" for j in range(n)), "en", "src0")
        for i, n in enumerate([1, 5, CHUNK_TOKENS, CHUNK_TOKENS + 1, 100, 240])
    ]
    _write_docs(tmp_path / "documents.parquet", rows)
    out = SPECS["text_chunk_overlap"].fn(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for (i, text, *_rest) in rows:
        n = len(text.split(" "))
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_start)
        assert [c.chunk_start for c in chunks] == list(
            range(1, n + 1, CHUNK_STRIDE)
        )
        assert chunks[-1].chunk_start + chunks[-1].n_chunk_tokens - 1 == n
        for c in chunks[:-1]:
            assert c.n_chunk_tokens == min(CHUNK_TOKENS, n - c.chunk_start + 1)
        assert [c.chunk_idx for c in chunks] == list(range(1, len(chunks) + 1))


def test_length_buckets_conserve_docs_and_bound_padding(spark, planted_dir):
    """Every doc lands in exactly one bucket, the bucket holds its longest
    member, and padding accounting is exact."""
    out = SPECS["pipeline_length_buckets"].fn(spark, planted_dir).collect()
    assert sum(r.n_docs for r in out) == 30
    for r in out:
        assert r.padded_tokens == r.n_docs * r.bucket_tokens
        assert 0.0 <= r.pad_waste_frac < 1.0
        assert r.sum_tokens <= r.padded_tokens


def test_deterministic_shuffle_partitions_corpus(spark, planted_dir):
    """The 16 shards partition the corpus (counts sum to the total) and the
    assignment is identical run-to-run and under repartitioning — the
    property that makes the training order reproducible on any cluster."""
    fn = SPECS["pipeline_deterministic_shuffle"].fn
    out1 = {r.shard: r for r in fn(spark, planted_dir).collect()}
    out2 = {r.shard: r for r in fn(spark, planted_dir).collect()}
    assert sum(r.n_docs for r in out1.values()) == 30
    assert {k: (v.n_docs, v.first_doc_id, v.last_doc_id) for k, v in out1.items()} == {
        k: (v.n_docs, v.first_doc_id, v.last_doc_id) for k, v in out2.items()
    }


# ---------------------------------------------------------------------------
# Retrieval / sketch / winsorize invariants
# ---------------------------------------------------------------------------


def test_bm25_ranks_higher_tf_first(spark, tmp_path):
    """Same-length docs: the one with more occurrences of a query term
    scores strictly higher; a doc with no query terms never appears."""
    from kafka_spark_streaming_eval_spark.operators.text import BM25_TERMS

    t = BM25_TERMS[0]
    filler = "pad"
    rows = [
        (0, " ".join([t] * 5 + [filler] * 5), "en", "s"),
        (1, " ".join([t] * 1 + [filler] * 9), "en", "s"),
        (2, " ".join([filler] * 10), "en", "s"),
    ]
    _write_docs(tmp_path / "documents.parquet", rows)
    out = {r.doc_id: r for r in SPECS["text_bm25_search"].fn(spark, str(tmp_path)).collect()}
    assert 2 not in out
    assert out[0].bm25 > out[1].bm25


def test_countmin_never_undercounts(spark):
    """The CM structural guarantee holds on real testdata for every probe."""
    out = SPECS["agg_countmin_sketch"].fn(spark, SF_DIR).collect()
    assert out, "no probe rows"
    for r in out:
        assert r.cm_never_undercounts
        assert r.overcount >= 0
        assert r.est_n >= r.true_n


def test_winsorized_mean_within_band(spark):
    """The winsorized mean sits inside the clamp band and clamping touches
    roughly the expected ~10% of rows (5% per tail, exact interpolation)."""
    out = SPECS["quality_winsorized_stats"].fn(spark, SF_DIR).collect()
    assert out
    for r in out:
        assert r.p05 <= r.winsorized_mean <= r.p95, r
        frac = (r.n_clamped_low + r.n_clamped_high) / r.n
        assert frac <= 0.12, r  # 5% per tail + interpolation slack


def test_link_prediction_pairs_are_nonadjacent(spark):
    """Predicted pairs must not be existing edges and must share at least
    one (capped-degree) common neighbor."""
    out = SPECS["graph_link_prediction"].fn(spark, SF_DIR).collect()
    assert out
    for r in out:
        assert r.u < r.v
        assert r.n_common >= 1
        assert 0.0 < r.jaccard <= 1.0
        assert r.aa_score_q > 0


def test_bpe_train_merges_conservation(spark, tmp_path):
    """Each merge round removes exactly pair_count tokens, and the chosen
    pair on a planted corpus is the known most-frequent adjacent pair."""
    rows = [
        (i, "x y x y z w " + " ".join(f"u{i}_{j}" for j in range(4)), "en", "s")
        for i in range(6)
    ]
    _write_docs(tmp_path / "documents.parquet", rows)
    out = {r.round: r for r in SPECS["text_bpe_train_merges"].fn(spark, str(tmp_path)).collect()}
    tokens_before = sum(len(r[1].split(" ")) for r in rows)
    assert out[1].merged_pair == "x_y"  # 2 occurrences per doc, 12 total
    assert out[1].pair_count == 12
    assert out[1].corpus_tokens_after == tokens_before - 12
    assert out[2].corpus_tokens_after == out[1].corpus_tokens_after - out[2].pair_count


def test_kmeans_separates_planted_clusters(spark, tmp_path):
    """Two well-separated planted blobs (+10 on dim 0 vs -10 on dim 1):
    after two Lloyd iterations every point sits with its blob — cluster
    sizes reflect the plant, and inertia is tiny relative to separation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = 8
    vecs, labels = [], []
    for i in range(40):
        v = [0.0] * dim
        jitter = ((i * 37) % 11 - 5) / 100.0  # deterministic, +-0.05
        if i % 2 == 0:
            v[0] = 10.0 + jitter
        else:
            v[1] = -10.0 + jitter
        vecs.append(v)
        labels.append(i % 2)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(40), type=pa.int64()),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
                "label": pa.array(labels, type=pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    out = SPECS["sim_kmeans_lloyd"].fn(spark, str(tmp_path)).collect()
    assert sum(r.n_members for r in out) == 40
    # the two planted blobs dominate: the two largest clusters hold all
    # points not claimed by the other seeds, and no cluster mixes blobs
    # (inertia per member stays at jitter scale, far below the 200+ a
    # mixed assignment would cost: 1e6-grid inertia_q per member < 1e6)
    for r in out:
        assert r.inertia_q < 1_000_000 * r.n_members


def test_unigram_surprisal_planted_fluent_vs_noise(spark, tmp_path):
    """A document of the LM source's own common words scores OOV 0 and high
    frequency magnitude; pure-noise tokens score OOV 1 / magnitude 0."""
    from kafka_spark_streaming_eval_spark.operators.corpus import (
        text_unigram_surprisal,
    )
    from tests.test_properties import _mini_sf

    train = "the cat sat on the mat " * 20  # src0: 'the' count 40 (2 digits)
    docs = [
        (1, train.strip(), "en", "src0", len(train)),
        (2, "the the cat mat", "en", "srcX", 15),  # all in-vocab
        (3, "zzq qqz xvx", "en", "srcX", 11),  # all OOV
    ]
    d, con = _mini_sf(tmp_path, spark, documents=docs)
    out = {r.doc_id: r for r in text_unigram_surprisal(spark, d).collect()}
    assert out[2].oov_rate == 0.0
    assert out[2].mean_freq_magnitude == 2.0  # every token's count is 2-digit
    assert out[3].oov_rate == 1.0
    assert out[3].mean_freq_magnitude == 0.0
    assert out[1].oov_rate == 0.0


def test_tokenizer_fertility_planted_ratios(spark, tmp_path):
    """Plain lowercase words have fertility exactly 1; punctuation-riddled
    text strictly above 1 (each punct char is its own BPE-ish token)."""
    from kafka_spark_streaming_eval_spark.operators.corpus import (
        pipeline_tokenizer_fertility,
    )
    from tests.test_properties import _mini_sf

    docs = [
        (1, "plain words only here", "en", "clean", 21),  # 4 ws = 4 bpe
        (2, "a, b, c!", "en", "punct", 8),  # 3 ws tokens, 6 bpe tokens
    ]
    d, con = _mini_sf(tmp_path, spark, documents=docs)
    out = {r.source: r for r in pipeline_tokenizer_fertility(spark, d).collect()}
    assert out["clean"].fertility == 1.0
    assert out["clean"].bpe_tokens == out["clean"].ws_tokens == 4
    assert out["punct"].ws_tokens == 3
    assert out["punct"].bpe_tokens == 6
    assert out["punct"].fertility == 2.0


def test_tokenizer_fertility_all_whitespace_group_is_null(spark, tmp_path):
    """ADVICE r4: a (lang, source) group whose docs are all empty or
    whitespace-only has ws_tokens = 0; without a guard Spark (non-ANSI)
    returns NULL for 0/0 while DuckDB IEEE float division returns NaN — a
    cross-engine hash mismatch.  Both sides must emit NULL (F.when in
    Spark, NULLIF in the oracle)."""
    from kafka_spark_streaming_eval_spark.operators.corpus import (
        pipeline_tokenizer_fertility,
    )
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries
    from tests.test_properties import _mini_sf

    docs = [
        (1, "", "xx", "blank", 0),
        (2, "   ", "xx", "blank", 3),
        (3, "real words here", "en", "clean", 15),
    ]
    d, con = _mini_sf(tmp_path, spark, documents=docs)
    out = {r.source: r for r in pipeline_tokenizer_fertility(spark, d).collect()}
    assert out["blank"].ws_tokens == 0
    assert out["blank"].fertility is None
    assert out["clean"].fertility == 1.0
    oracle = all_queries()["pipeline_tokenizer_fertility"].oracle
    got = {r[1]: r[4] for r in con.execute(oracle).fetchall()}
    assert got["blank"] is None
    assert got["clean"] == 1.0


def test_contamination_matrix_planted_mirror_source(spark, tmp_path):
    """A mirror source sharing a verbatim doc overlaps; a disjoint source
    appears in no pair row (zero-overlap pairs absent by construction)."""
    from kafka_spark_streaming_eval_spark.operators.corpus import (
        text_contamination_matrix,
    )
    from tests.test_properties import _mini_sf

    shared = "alpha beta gamma delta epsilon zeta"
    docs = [
        (1, shared, "en", "origin", len(shared)),
        (2, shared, "en", "mirror", len(shared)),  # verbatim recrawl
        (3, "one two three four five six", "en", "other", 27),
    ]
    d, con = _mini_sf(tmp_path, spark, documents=docs)
    rows = text_contamination_matrix(spark, d).collect()
    pairs = {(r.source_a, r.source_b): r for r in rows}
    assert set(pairs) == {("mirror", "origin")}  # 'other' shares nothing
    r = pairs[("mirror", "origin")]
    assert r.n_shared == r.size_a == r.size_b == 4  # 6 tokens -> 4 shingles
    assert r.jaccard == 1.0


def test_semantic_dedup_drops_centroid_near_duplicate(spark, tmp_path):
    """SemDeDup keep rule on a planted cluster: two identical vectors (an
    exact semantic duplicate, cos = 1 > tau) plus one orthogonal outlier.
    Exactly one of the duplicate pair is dropped — the one with the larger
    vec_id (equal centroid-cosines tie-break on id) — and a well-separated
    control cluster loses nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = [
        [1.0, 0.0, 0.0, 0.0],  # 0: label 0, dup A
        [1.0, 0.0, 0.0, 0.0],  # 1: label 0, dup B (dropped: larger id)
        [0.0, 1.0, 0.0, 0.0],  # 2: label 0, orthogonal -> kept
        [0.0, 0.0, 1.0, 0.0],  # 3: label 1, control
        [0.0, 0.0, 0.0, 1.0],  # 4: label 1, orthogonal control
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(5), type=pa.int64()),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
                "label": pa.array([0, 0, 0, 1, 1], type=pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    out = {r.label: r for r in SPECS["sim_semantic_dedup"].fn(spark, str(tmp_path)).collect()}
    assert out[0].n_members == 3 and out[0].n_dropped == 1 and out[0].n_kept == 2
    assert out[1].n_members == 2 and out[1].n_dropped == 0 and out[1].n_kept == 2


def test_dsir_importance_target_like_scores_higher(spark, tmp_path):
    """DSIR weights on a planted corpus: a document made of target-domain
    bigrams outscores one made of bigrams absent from the target slice
    (whose lift, and hence importance, is exactly 0)."""
    from kafka_spark_streaming_eval_spark.operators.curation import (
        DSIR_TARGET_SOURCE,
    )
    from tests.test_properties import _mini_sf

    docs = [
        (1, "alpha beta alpha beta", "en", DSIR_TARGET_SOURCE, 21),
        (2, "alpha beta gamma", "en", DSIR_TARGET_SOURCE, 16),
        (3, "alpha beta alpha", "en", "srcX", 16),   # target-like
        (4, "omega psi chi phi", "en", "srcX", 17),  # never in target
    ]
    d, con = _mini_sf(tmp_path, spark, documents=docs)
    out = {r.doc_id: r for r in SPECS["pipeline_dsir_importance"].fn(spark, d).collect()}
    assert out[4].importance == 0.0 and out[4].lift_q_sum == 0
    assert out[3].importance > out[4].importance
    assert out[3].n_feats == 2 and out[4].n_feats == 3
    # cross-engine: the oracle over the same planted corpus agrees exactly
    oracle = SPECS["pipeline_dsir_importance"].oracle
    got = {r[0]: r for r in con.execute(oracle).fetchall()}
    for doc_id, r in out.items():
        assert got[doc_id][1:] == (r.n_feats, r.lift_q_sum, r.importance)


def test_incremental_contamination_planted_copy(spark, tmp_path):
    """A streamed document copying a benchmark shingle is flagged with the
    exact distinct-hit count; a disjoint source is absent by construction."""
    from kafka_spark_streaming_eval_spark.operators.curation import BENCH_SOURCE
    from tests.test_properties import _mini_sf

    docs = [
        (1, "x y z w", "en", BENCH_SOURCE, 7),       # bench: shingles "x y z", "y z w"
        (2, "a b x y z c", "en", "srcA", 11),        # contains "x y z" once
        (3, "p q r s t", "en", "srcB", 9),           # disjoint
        (4, "x y z w extra", "en", "srcC", 13),      # both bench shingles
    ]
    d, _ = _mini_sf(tmp_path, spark, documents=docs)
    out = {r.source: r for r in SPECS["stream_incremental_contamination"].fn(spark, d).collect()}
    assert set(out) == {"srcA", "srcC"}
    assert out["srcA"].n_docs_contaminated == 1 and out["srcA"].n_shingle_hits == 1
    assert out["srcC"].n_docs_contaminated == 1 and out["srcC"].n_shingle_hits == 2


def test_cdc_chunks_find_shared_passage_at_different_offsets(spark, tmp_path):
    """The CDC property: a passage shared by two documents at DIFFERENT
    token offsets still produces identical interior chunks (boundaries are
    content-defined, not position-defined), so the shared mass is detected;
    a disjoint source shares nothing."""
    from tests.test_properties import _mini_sf

    passage = " ".join(f"shared{i}" for i in range(64))
    docs = [
        (1, "lead " + passage + " tail", "en", "srcA", 0),
        (2, "a b c d e f g h i j " + passage, "en", "srcB", 0),
        (3, " ".join(f"other{i}" for i in range(64)), "en", "srcC", 0),
    ]
    d, con = _mini_sf(tmp_path, spark, documents=docs)
    out = {r.source: r for r in SPECS["dedup_cdc_chunks"].fn(spark, d).collect()}
    assert out["srcA"].n_shared_chunks > 0 and out["srcA"].shared_token_mass > 0
    assert out["srcB"].n_shared_chunks > 0 and out["srcB"].shared_token_mass > 0
    assert out["srcC"].n_shared_chunks == 0 and out["srcC"].shared_token_mass == 0
    # token conservation: chunks partition each document exactly
    assert sum(r.n_tokens for r in out.values()) == sum(
        len(t.split(" ")) for _, t, *_ in docs
    )


def test_bloom_prefilter_never_false_negative(spark, ducks):
    """The Bloom guarantee: every true semi-join match passes the filter,
    so per group n_bloom_pass == n_true_match + n_false_pos exactly, and
    the filter actually filters (passes < total) at this scale."""
    rows = SPECS["join_bloom_prefilter"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_bloom_pass == r.n_true_match + r.n_false_pos, r
        assert r.n_bloom_pass <= r.n_orders
    assert sum(r.n_bloom_pass for r in rows) < sum(r.n_orders for r in rows)


def test_quality_classifier_score_matches_hand_hash(spark, tmp_path):
    """Reimplement the hashed-linear scorer with hashlib on a 3-token doc:
    the engine's md5-bucket/weight arithmetic must reproduce it exactly."""
    import hashlib

    from tests.test_properties import _mini_sf

    def hb(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:2], 16)

    toks = ["alpha", "beta", "gamma"]
    expected = sum(hb("w" + str(hb(t))) - 128 for t in toks)
    d, _ = _mini_sf(tmp_path, spark, documents=[(1, " ".join(toks), "en", "srcX", 0)])
    row = SPECS["text_quality_classifier"].fn(spark, d).collect()[0]
    assert row.sum_score == expected and row.sum_tokens == 3
    assert row.n_keep == (1 if expected >= 0 else 0)


def test_domain_cap_bounds_every_domain(spark):
    """Cap conservation: kept+dropped == docs per source, global kept mass
    is bounded by domains*cap, and sf0.01's 500 docs over 32 domains must
    actually overflow the cap somewhere (the positive path).  Two-level
    invariants (r6): the level-1 survivor mass is bounded by
    domains*shards*cap and dominates the final kept mass per source."""
    from kafka_spark_streaming_eval_spark.operators.curation import (
        DOMAIN_CAP,
        DOMAIN_COUNT,
        DOMAIN_SHARDS,
    )

    rows = SPECS["pipeline_domain_cap"].fn(spark, SF_DIR).collect()
    assert all(r.n_kept + r.n_dropped == r.n_docs for r in rows)
    assert sum(r.n_kept for r in rows) <= DOMAIN_COUNT * DOMAIN_CAP
    assert sum(r.n_dropped for r in rows) > 0
    assert all(r.n_kept <= r.n_lvl1_kept for r in rows)
    assert (
        sum(r.n_lvl1_kept for r in rows)
        <= DOMAIN_COUNT * DOMAIN_SHARDS * DOMAIN_CAP
    )


def test_domain_cap_two_level_equals_one_level(spark):
    """The (domain, shard) cap-then-recap must select EXACTLY the one-level
    per-domain top-CAP: level 1 cannot drop a final winner (global domain
    rank <= CAP implies within-shard rank <= CAP), so per-source kept
    counts from the registered two-level query equal an independently
    computed one-level ranked window."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from kafka_spark_streaming_eval_spark.catalog import table
    from kafka_spark_streaming_eval_spark.operators.curation import (
        DOMAIN_CAP,
        DOMAIN_COUNT,
        _hb,
    )

    d = table(spark, SF_DIR, "documents")
    did = F.col("doc_id").cast("string")
    one_level = (
        d.select(
            "source",
            "doc_id",
            (_hb(did) % DOMAIN_COUNT).alias("dom"),
            F.md5(F.concat(did, F.lit(":rank"))).alias("rk"),
        )
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("dom").orderBy("rk", "doc_id"))
        )
        .where(F.col("rn") <= DOMAIN_CAP)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    expected = {r.source: r.n_kept for r in one_level.collect()}
    got = {
        r.source: r.n_kept
        for r in SPECS["pipeline_domain_cap"].fn(spark, SF_DIR).collect()
        if r.n_kept
    }
    assert got == {s: k for s, k in expected.items() if k}


def test_ewma_constant_series_is_the_constant(spark, tmp_path):
    """EWMA fixed point: a constant series' EWMA is the constant itself
    (weights sum to exactly 16384/16384), for every complete window."""
    import datetime as dt

    from tests.test_properties import _mini_sf

    base = dt.datetime(2024, 1, 1)
    events = [
        (i, base + dt.timedelta(seconds=i), 7, "view", 2.5, "{}")
        for i in range(10)
    ]
    d, _ = _mini_sf(tmp_path, spark, events=events)
    row = SPECS["window_ewma_exact"].fn(spark, d).collect()[0]
    assert row.n_windows == 3  # rows 8..10 have full 8-event history
    assert row.ewma_scaled_min == row.ewma_scaled_max == 16384 * 2.5


def test_incremental_merge_matches_direct(spark):
    """The algebraic-state merge must equal the direct aggregate on every
    group — the in-query proof column is asserted TRUE across the board."""
    rows = SPECS["agg_incremental_merge"].fn(spark, SF_DIR).collect()
    assert rows and all(r.matches_direct for r in rows)


def test_priority_sample_matches_hand_computation(spark, tmp_path):
    """Reimplement Duffield-Lund-Thorup priority sampling with hashlib on a
    planted corpus (one heavy doc among 29 light ones): the engine must
    reproduce the exact sample set, and the heavy doc must be in it."""
    import hashlib

    from kafka_spark_streaming_eval_spark.operators.curation import SAMPLE_K
    from tests.test_properties import _mini_sf

    docs = [(i, "x", "en", "srcP", 10) for i in range(1, 30)]
    docs.append((1000, "x", "en", "srcP", 10**9))  # heavy: w = 1e9
    d, _ = _mini_sf(tmp_path, spark, documents=docs)
    row = SPECS["pipeline_priority_sample"].fn(spark, d).collect()[0]

    def pri(doc_id, w):
        u = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        return (u / max(w, 1), doc_id)

    expected = sorted(((pri(i, w), i, w) for i, _, _, _, w in docs))[:SAMPLE_K]
    assert row.n_sampled == SAMPLE_K
    assert row.sampled_id_checksum == sum(i for _, i, _ in expected)
    assert row.sampled_chars == sum(w for _, _, w in expected)
    assert any(i == 1000 for _, i, _ in expected)  # the heavy doc made it


def test_partition_skew_conserves_rows_and_keys(spark):
    """Conservation: the simulated reducers partition rows and keys exactly
    (every key lands on one pid), and max_key_rows is bounded by n_rows."""
    rows = SPECS["profile_partition_skew"].fn(spark, SF_DIR).collect()
    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    assert sum(r.n_rows for r in rows) == ev.count()
    assert sum(r.n_keys for r in rows) == ev.select("user_id").distinct().count()
    assert all(0 < r.max_key_rows <= r.n_rows for r in rows)


def test_asof_attribution_at_or_before_semantics(spark, tmp_path):
    """Planted streams: a click at the SAME millisecond as a view must
    attribute to it (at-or-before, side tiebreak), later clicks attribute
    to the latest preceding view, and a user with no prior view stays
    unattributed."""
    import datetime as dt

    from tests.test_properties import _mini_sf

    t0 = dt.datetime(2024, 1, 5)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    events = [
        (1, at(0), 1, "view", 1.0, "{}"),    # view A
        (2, at(10), 1, "click", 1.0, "{}"),  # -> A, gap 10s
        (3, at(20), 1, "view", 1.0, "{}"),   # view B
        (4, at(20), 1, "click", 1.0, "{}"),  # same ts -> B, gap 0
        (5, at(5), 2, "click", 1.0, "{}"),   # user 2: no view ever
    ]
    d, _ = _mini_sf(tmp_path, spark, events=events)
    row = SPECS["join_asof_attribution"].fn(spark, d).collect()[0]
    assert row.n_clicks == 3
    assert row.n_attributed == 2
    assert row.gap_ms_total == 10_000
    assert row.view_id_checksum == 1 + 3


def test_mad_outliers_resist_the_outlier_itself(spark, tmp_path):
    """The MAD property: one huge value among identical ones leaves the
    median AND the MAD untouched (both 10 and 0), so the huge value is
    flagged; a clean constant group flags nothing."""
    import datetime as dt

    from tests.test_properties import _mini_sf

    t0 = dt.datetime(2024, 1, 5)
    events = [(i, t0, 1, "skewed", 10.0, "{}") for i in range(9)]
    events.append((9, t0, 1, "skewed", 1000.0, "{}"))
    events += [(100 + i, t0, 2, "clean", 7.0, "{}") for i in range(5)]
    d, _ = _mini_sf(tmp_path, spark, events=events)
    out = {r.event_type: r for r in SPECS["quality_mad_outliers"].fn(spark, d).collect()}
    assert out["skewed"].med == 10.0 and out["skewed"].mad == 0.0
    assert out["skewed"].n_outliers == 1
    assert out["skewed"].outlier_value_sum == 1000.0
    assert out["clean"].n_outliers == 0 and out["clean"].outlier_value_sum is None
