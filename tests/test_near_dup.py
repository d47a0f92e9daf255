"""Recall gates for the approximate near-dup/similarity operators —
the rows-only registry entries get their real verification here,
pinned against their exact counterparts."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from databeats_spark.functions.similarity import cosine_top_k, lsh_cosine_top_k
from databeats_spark.operators.dedup import (
    banded_hamming_pairs,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from databeats_spark.sources.tables import load_tables
from tests.conftest import SF_CORRECT, SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    d = load_tables(spark, SF_CORRECT, ["documents"]).documents.cache()
    d.count()
    return d


def test_minhash_finds_all_high_jaccard_pairs(spark, docs):
    # ground truth: exact 3-gram Jaccard >= 0.8 over the full corpus
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).toPandas()
    assert len(exact) > 0, "corpus should contain planted near-dups"
    approx = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.8).toPandas()
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    approx_pairs = set(zip(approx["id_a"], approx["id_b"]))
    missed = exact_pairs - approx_pairs
    # LSH with b=8, r=4 has >99.9% hit probability at J>=0.8
    assert not missed, f"minhash missed high-jaccard pairs: {missed}"
    # and the verify stage means no false positives below threshold
    assert (approx["jaccard"] >= 0.8).all()


def test_minhash_jaccard_values_are_exact(spark, docs):
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6).toPandas()
    approx = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.6).toPandas()
    e = exact.set_index(["id_a", "id_b"])["jaccard"]
    a = approx.set_index(["id_a", "id_b"])["jaccard"]
    joined = pd.concat([e, a], axis=1, join="inner")
    assert len(joined) > 0
    # the verification stage computes EXACT jaccard, not an estimate
    assert (joined.iloc[:, 0] - joined.iloc[:, 1]).abs().max() < 1e-12


def test_simhash_flags_planted_neardups(spark, docs):
    # the known planted pair family: simhash at small hamming distance
    # must flag at least the strongest near-dups found by exact jaccard
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.9).toPandas()
    sim = simhash_near_duplicates(docs, "doc_id", "text", hamming_max=6).toPandas()
    sim_pairs = set(zip(sim["id_a"], sim["id_b"]))
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    if exact_pairs:
        hits = len(exact_pairs & sim_pairs) / len(exact_pairs)
        assert hits >= 0.5, f"simhash recall on near-identical pairs too low: {hits}"


def test_lsh_cosine_recall(spark):
    emb = load_tables(spark, SF_SMOKE, ["embeddings"]).embeddings.cache()
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_top_k(emb, queries, k=5).toPandas()
    approx = lsh_cosine_top_k(emb, queries, dim=64, k=5, n_planes=6, n_tables=8).toPandas()
    e = exact.groupby("query_id")["neighbor_id"].apply(set)
    a = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e.index]
    mean_recall = sum(recalls) / len(recalls)
    # this corpus is near-random (top-5 cosine ~0.33, the hardest case
    # for hyperplane LSH); 6 planes × 8 tables + multiprobe measured
    # 0.89 — gate leaves slack for plane-seed sensitivity
    assert mean_recall >= 0.6, f"LSH cosine recall collapsed: {mean_recall}"


def test_embedding_lsh_near_dup_precision(spark):
    from databeats_spark.functions.similarity import cosine, embedding_near_duplicates

    emb = load_tables(spark, SF_SMOKE, ["embeddings"]).embeddings.cache()
    got = embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.3, n_planes=2, dim=64
    ).toPandas()
    # precision is exact by construction (cosine computed per emitted pair)
    assert (got["cos_sim"] >= 0.3).all()
    assert (got["id_a"] < got["id_b"]).all()
    # recall floor vs brute force: single-table collision probability
    # is (1 - theta/pi)^n_planes ~= 0.36 at cos 0.3 with 2 planes
    e = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    exact = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
        .toPandas()
    )
    assert len(exact) > 0
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    assert got_pairs <= exact_pairs
    recall = len(got_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.2, f"hyperplane-bucket recall collapsed: {recall}"


def test_semdedup_precision_and_recall(spark):
    from databeats_spark.operators.dedup import semantic_near_duplicates
    from databeats_spark.functions.similarity import cosine

    emb = load_tables(spark, SF_SMOKE, ["embeddings"]).embeddings.cache()
    # exact all-pairs ground truth: brute force (bounded smoke corpus)
    e = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    exact = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.4)
        .toPandas()
    )
    sem = semantic_near_duplicates(
        emb, "vec_id", "embedding", n_lists=8, threshold=0.4
    ).toPandas()
    sem_pairs = set(zip(sem["id_a"], sem["id_b"]))
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    # precision is exact by construction: every emitted pair's cosine
    # is computed, so no pair outside the ground truth can appear
    assert sem_pairs <= exact_pairs
    assert len(exact_pairs) > 0
    # recall loses only cluster-straddling pairs (the SemDeDup
    # trade-off); with 8 clusters over this corpus a material fraction
    # of the weakly-similar (0.4) pairs must still co-cluster
    recall = len(sem_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.3, f"semdedup recall collapsed: {recall}"


def test_sq8_quantized_search_recall(spark):
    """End-to-end usefulness gate for int8 scalar quantization: cosine
    top-10 over the DEQUANTIZED corpus must recover >= 90% of the exact
    float top-10 (per query), and the dequantized vectors must sit
    within the quantization-step error bound of the originals."""
    from pyspark.sql import functions as F

    from databeats_spark.functions.similarity import cosine_top_k, sq8_dequantize
    from databeats_spark.sources.tables import load_tables
    from tests.conftest import SF_SMOKE

    emb = load_tables(spark, SF_SMOKE, ["embeddings"]).embeddings
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_top_k(emb, q, k=10).toPandas()

    dq = emb.select("vec_id", sq8_dequantize("embedding").alias("embedding"))
    dq_q = dq.filter(F.col("vec_id") < 5)
    approx = cosine_top_k(dq, dq_q, k=10).toPandas()

    for qid, grp in exact.groupby("query_id"):
        got = set(approx[approx.query_id == qid]["neighbor_id"])
        want = set(grp["neighbor_id"])
        recall = len(got & want) / len(want)
        assert recall >= 0.9, (qid, recall)


def test_substring_dedup_catches_shifted_overlap(spark, tmp_path):
    """The substring_dup_spans semantics pin: a copy of a 15-token run
    SHIFTED off the 8-token grid must be found with its exact length —
    the case span_dedup_docs' fixed grid structurally misses (a
    15-token run shifted by 3 never aligns with any grid span of the
    source doc)."""
    from databeats_spark.registry.corpus import (
        MIN_MATCH_TOKENS,
        _span_dedup_docs,
        _substring_dup_spans,
    )

    run = [f"w{i}" for i in range(15)]  # the duplicated 15-token run
    doc_a = " ".join([f"a{i}" for i in range(10)] + run + [f"z{i}" for i in range(10)])
    # doc B embeds the same run at offset 13 (10+3: off A's 8-grid by 3)
    doc_b = " ".join([f"b{i}" for i in range(13)] + run + [f"y{i}" for i in range(9)])
    doc_c = " ".join(f"c{i}" for i in range(30))  # unrelated control
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, doc_a, "s", len(doc_a)), (2, doc_b, "s", len(doc_b)), (3, doc_c, "s", len(doc_c))],
        "doc_id bigint, text string, source string, n_chars int",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = _substring_dup_spans(spark, sf_dir).toPandas()
    assert len(got) == 1, f"expected exactly the planted pair, got {got}"
    row = got.iloc[0]
    assert (row["id_a"], row["id_b"]) == (1, 2)
    assert row["max_span_tokens"] == 15, "variable-length match must be exact"
    # adjacent anchors: one per start position of the run that still
    # leaves >= MIN_MATCH_TOKENS of it
    assert row["n_anchors"] == 15 - MIN_MATCH_TOKENS + 1

    # and the fixed grid indeed misses it: doc 2 keeps every span
    grid = _span_dedup_docs(spark, sf_dir).toPandas().set_index("doc_id")
    assert grid.loc[2, "n_kept"] == grid.loc[2, "n_spans"], (
        "fixed-grid span dedup unexpectedly caught the shifted copy — "
        "the substring query's reason to exist would be gone"
    )

    # apply side: the scrub accounting removes EXACTLY the 15-token
    # run from doc 2's source (first-occurrence keep: doc 1 keeps it).
    # The interval-union telescope: 8 duplicated anchors cover
    # positions 14..28 -> 8 + 7x1 = 15 removed tokens.
    from databeats_spark.registry.corpus import _substring_scrub_stats

    scrub = _substring_scrub_stats(spark, sf_dir).toPandas().set_index("source")
    assert int(scrub.loc["s", "removed_tokens"]) == 15
    n_total = len(doc_a.split()) + len(doc_b.split()) + len(doc_c.split())
    assert int(scrub.loc["s", "total_tokens"]) == n_total


def test_hashed_anchor_is_result_identical(spark):
    """The scale posture of the substring tier (VERDICT r6 item 6):
    xxhash64-hashing the anchor only changes the window's PARTITION key
    through an injective transform, so the pair list, span lengths and
    anchor counts must be byte-identical to the verbatim form — here on
    the real smoke corpus (the driver oracle re-proves it at sf0.01)."""
    from databeats_spark.registry.corpus import _substring_dup_spans

    cols = ["id_a", "id_b", "max_span_tokens", "n_anchors"]
    verbatim = (
        _substring_dup_spans(spark, SF_SMOKE).toPandas()[cols].reset_index(drop=True)
    )
    hashed = (
        _substring_dup_spans(spark, SF_SMOKE, hash_anchor=True)
        .toPandas()[cols]
        .reset_index(drop=True)
    )
    assert len(verbatim) > 0
    assert verbatim.equals(hashed)


def test_scrub_hashed_anchor_is_result_identical(spark):
    """The xxhash64-anchor posture applied to the scrub accounting
    (the substring family's apply side): the anchor is an equality-only
    window key there too, so per-source removed/total token counts and
    kept_frac must be byte-identical — at BOTH correctness SFs."""
    from databeats_spark.registry.corpus import _substring_scrub_stats

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        verbatim = _substring_scrub_stats(spark, sf_dir).toPandas()
        hashed = _substring_scrub_stats(
            spark, sf_dir, hash_anchor=True
        ).toPandas()
        assert len(verbatim) > 0, sf_dir
        assert verbatim.reset_index(drop=True).equals(
            hashed.reset_index(drop=True)
        ), sf_dir


def test_novelty_hashed_gram_is_result_identical(spark):
    """The xxhash64 posture applied to the novelty window's gram key:
    per-source gram/novel counts and the novelty rate must be
    byte-identical — at BOTH correctness SFs."""
    from databeats_spark.registry.corpus import _ngram_novelty

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        verbatim = _ngram_novelty(spark, sf_dir).toPandas()
        hashed = _ngram_novelty(spark, sf_dir, hash_gram=True).toPandas()
        assert len(verbatim) > 0, sf_dir
        assert verbatim.reset_index(drop=True).equals(
            hashed.reset_index(drop=True)
        ), sf_dir


def test_packed_variant_is_result_identical(spark):
    """The r8 scale posture (VERDICT r7 item 4): packing the suffix
    tail into one separator-joined string changes the window's ORDER
    key through an order-isomorphic injective encoding (the 0x01
    separator sorts below every content byte, so string order ==
    array order), and the post-shuffle split restores the exact token
    arrays for the LCP arithmetic (empty tail -> empty ARRAY guard).
    The lag pair set, span lengths and anchor counts must therefore be
    byte-identical to the verbatim form — at BOTH correctness SFs."""
    from databeats_spark.registry.corpus import _substring_dup_spans

    cols = ["id_a", "id_b", "max_span_tokens", "n_anchors"]
    for sf_dir in (SF_SMOKE, SF_CORRECT):
        verbatim = (
            _substring_dup_spans(spark, sf_dir).toPandas()[cols].reset_index(drop=True)
        )
        packed = (
            _substring_dup_spans(spark, sf_dir, hash_anchor=True, pack_rest=True)
            .toPandas()[cols]
            .reset_index(drop=True)
        )
        assert len(verbatim) > 0, sf_dir
        assert verbatim.equals(packed), sf_dir


def test_packed_variant_survives_control_bytes(spark, tmp_path):
    """The packed encoding reserves two bytes — 0x01 (separator: a token
    containing it breaks injectivity and re-fragments after the
    post-shuffle split) and 0x00 (sorts below the separator, flipping
    the order isomorphism). Regex \\s is only [ \\t\\n\\x0B\\f\\r], so
    binary-contaminated crawl text carries both into whitespace-split
    tokens. The query family therefore maps \\x00/\\x01 to spaces at
    tokenization on BOTH engines (_CTRL_BYTES_RE / the oracle's
    regexp_replace) — this pins that (a) all three variants stay
    mutually identical on a corpus planted with both bytes, (b) the
    DuckDB oracle agrees, and (c) the sanitizer is actually active:
    docs 1 and 2 differ only by a mid-token 0x01 and must come back as
    full 13-token duplicates, not a bare 8-token anchor match."""
    import duckdb

    from databeats_spark.registry.corpus import (
        _SUBSTRING_DUP_SPANS_SQL,
        _substring_dup_spans,
    )

    anchor = " ".join(f"A{i}" for i in range(8))
    rows = [
        (1, f"{anchor} a\x01b c d e"),   # 0x01 inside a tail token
        (2, f"{anchor} a b c d e"),      # clean twin of doc 1
        (3, f"{anchor} a\x00b q r s"),   # 0x00 inside a tail token
        (4, " ".join(f"c{i}" for i in range(13))),  # unrelated control
    ]
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, t, "s", len(t)) for i, t in rows],
        "doc_id bigint, text string, source string, n_chars int",
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    cols = ["id_a", "id_b", "max_span_tokens", "n_anchors"]
    verbatim = _substring_dup_spans(spark, sf_dir).toPandas()[cols]
    hashed = _substring_dup_spans(spark, sf_dir, hash_anchor=True).toPandas()[cols]
    packed = _substring_dup_spans(
        spark, sf_dir, hash_anchor=True, pack_rest=True
    ).toPandas()[cols]
    assert verbatim.reset_index(drop=True).equals(hashed.reset_index(drop=True))
    assert verbatim.reset_index(drop=True).equals(packed.reset_index(drop=True))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet/*.parquet'"
    )
    want = [tuple(r) for r in con.execute(_SUBSTRING_DUP_SPANS_SQL).fetchall()]
    assert [tuple(r) for r in verbatim.itertuples(index=False)] == want

    # sanitizer active: after \x01 -> ' ', docs 1 and 2 are exact
    # duplicates — 13 shared tokens, not just the 8-token anchor
    pair = verbatim.set_index(["id_a", "id_b"]).loc[(1, 2)]
    assert int(pair["max_span_tokens"]) == 13


def test_ivf_incremental_add_and_drift_trigger(spark):
    """Incremental index maintenance: an ingest batch joins the index
    through one assignment pass (no refit), old-query results stay
    intact, the new vectors are searchable, and the drift metric
    separates an in-distribution batch from a runaway one (the refit
    trigger)."""
    from pyspark.sql import functions as F

    from databeats_spark.ml.ann import IVFIndex
    from databeats_spark.sources.tables import load_tables
    from tests.conftest import SF_CORRECT

    emb = load_tables(spark, SF_CORRECT, ["embeddings"]).embeddings.select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 400).localCheckpoint()
    idx = IVFIndex.fit(base, n_lists=8)
    q = base.filter(F.col("vec_id") < 3)
    before = idx.search(q, k=5, n_probe=8).toPandas()

    # batch 1: in-distribution (held-out existing vectors, re-keyed) +
    # one exact twin of vec 0
    held_out = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    twin = base.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding"
    )
    idx2 = idx.add(held_out.unionByName(twin))
    assert idx2.assigned.count() == 400 + 50 + 1

    # the twin surfaces as vec 0's nearest neighbor at cosine ~1.0
    after = idx2.search(q, k=5, n_probe=8).toPandas()
    best0 = after[after.query_id == 0].sort_values("rank").iloc[0]
    assert best0["neighbor_id"] == 900_000 and abs(best0["cos_sim"] - 1.0) < 1e-6
    # other old queries keep their old top-1 (far batch can't intrude)
    for qid in (1, 2):
        old_top = before[before.query_id == qid].sort_values("rank").iloc[0]
        new_top = after[after.query_id == qid].sort_values("rank").iloc[0]
        assert new_top["neighbor_id"] == old_top["neighbor_id"]

    # drift: a runaway batch (vectors shifted far outside the corpus)
    # reads much farther from the centroid book than the in-dist batch
    far = held_out.select(
        "vec_id", F.transform("embedding", lambda x: x + F.lit(50.0)).alias("embedding")
    )
    d_in = idx.mean_assignment_distance(held_out)
    d_far = idx.mean_assignment_distance(far)
    assert d_far > 5 * d_in, (d_in, d_far)


def test_exact_twins_find_planted_dups(spark, docs):
    """The r7 *_exact oracle twins are hash-verified against DuckDB by
    the differential gate; THIS pins their semantics — the md5-family
    banding/bucketing still finds the corpus's planted high-similarity
    pairs (deterministic: the hash family has no seeds to vary, so a
    pair that collides once collides forever)."""
    from databeats_spark.registry.vectors import (
        _minhash_near_dups_exact,
        _simhash_near_dups_exact,
    )

    exact = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.9).toPandas()
    assert len(exact) > 0, "corpus should contain planted near-dups"
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))

    twin = _minhash_near_dups_exact(spark, SF_CORRECT).toPandas()
    twin_pairs = set(zip(twin["id_a"], twin["id_b"]))
    # 4x3 banding hits J>=0.9 pairs w.p. ~0.995 per pair; on THIS fixed
    # corpus + fixed hash family the outcome is deterministic
    missed = exact_pairs - twin_pairs
    assert not missed, f"md5-family banding missed planted pairs: {missed}"
    # the verify stage makes precision exact by construction
    assert (twin["jaccard"] >= 0.5).all()

    sim = _simhash_near_dups_exact(spark, SF_CORRECT).toPandas()
    sim_pairs = set(zip(sim["id_a"], sim["id_b"]))
    # near-identical docs agree on almost every vote -> tiny Hamming
    assert exact_pairs & sim_pairs, "simhash twin found none of the planted pairs"
    assert (sim["hamming"] <= 3).all()


def test_ivf_exact_twin_matches_brute_force_on_probed_lists(spark):
    """The IVF twin's pruning is the operator; within the probed lists
    its ranking must equal brute force restricted to those lists."""
    from databeats_spark.registry.vectors import (
        IVF_EXACT_LISTS,
        _fixed_centroid_assign,
        _ivf_cosine_topk_exact,
    )

    emb = load_tables(spark, SF_CORRECT, ["embeddings"]).embeddings
    out = _ivf_cosine_topk_exact(spark, SF_CORRECT).toPandas()
    assign = _fixed_centroid_assign(emb, IVF_EXACT_LISTS).toPandas()
    # every returned neighbor must live in a list its query probed —
    # i.e. the result is top-k of SOME bounded candidate set, and rank
    # is dense 1..k per query
    assert (out.groupby("query_id")["rank"].apply(
        lambda r: sorted(r) == list(range(1, len(r) + 1))).all())
    lists = dict(zip(assign["vec_id"], assign["centroid_id"]))
    per_query_lists = out.groupby("query_id")["neighbor_id"].apply(
        lambda ns: {lists[n] for n in ns}
    )
    from databeats_spark.registry.vectors import IVF_EXACT_PROBE

    assert (per_query_lists.apply(len) <= IVF_EXACT_PROBE).all()


def test_stop_shingle_cap_inactive_at_test_scale(spark, docs):
    """curation_funnel_exact bounds its pair generator with
    max_df=128 (stop-shingle cap — the k² join-blowup guard at scale).
    The synthetic corpora top out at shingle df 9, so the cap must be
    a no-op here: capped and uncapped pair sets identical. The cap's
    MECHANISM is separately oracle-verified (the funnel-exact SQL
    mirrors the df filter), so this pins that enabling the guard costs
    nothing until a corpus actually contains boilerplate shingles."""
    base = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).toPandas()
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_df=128
    ).toPandas()
    key = lambda df: set(zip(df["id_a"], df["id_b"], df["common"]))  # noqa: E731
    assert key(base) == key(capped)


def test_blockmean_exact_twin_multi_scale_semantics(spark):
    """The two-scale union arithmetic of blockmean_near_dups_exact
    (VERDICT r9 item 4): per-scale pairs survive into the union with
    MIN hamming and an honest scales-matched count — and the two md5
    'crop' scales genuinely differ (n_scales = 1 rows exist), so the
    union is doing real recall work, not echoing one scale twice."""
    from databeats_spark.registry.documents import (
        PHASH_EXACT_BITS,
        _blockmean_near_dups_exact,
        _md5_bits,
    )

    out = _blockmean_near_dups_exact(spark, SF_CORRECT).toPandas()
    assert len(out) > 0
    assert set(out["n_scales"].unique()) <= {1, 2}
    assert (out["n_scales"] == 1).any(), "scales never disagree — crop is a no-op"
    assert (out["hamming"] <= 3).all()

    # the full-text scale alone must be a subset with hamming >= the min
    docs = load_tables(spark, SF_CORRECT, ["documents"]).documents
    full = banded_hamming_pairs(
        docs.select(
            "doc_id",
            _md5_bits(F.md5(F.encode(F.col("text"), "utf-8")), PHASH_EXACT_BITS).alias("sig"),
        ),
        "doc_id", "sig", 3, bits=PHASH_EXACT_BITS,
    ).toPandas()
    assert len(full) > 0
    merged = full.merge(out, on=["id_a", "id_b"], suffixes=("_full", "_min"))
    assert len(merged) == len(full), "a full-scale pair is missing from the union"
    assert (merged["hamming_min"] <= merged["hamming_full"]).all()



def test_exact_twins_call_the_production_operators(spark, monkeypatch):
    """Each near-dup certifying twin is one call of its production
    operator with a deterministic substitute injected, so the oracle
    certifies the code production runs — not a hand copy of it."""
    import sys

    from databeats_spark.operators import dedup
    from databeats_spark.registry import queries

    calls: dict[str, int] = {}

    def counting(name, fn):
        def wrapped(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return fn(*args, **kwargs)
        return wrapped

    spied = ("banded_hamming_pairs", "minhash_near_duplicates",
             "minhash_signatures", "semantic_near_duplicates")
    for name in spied:
        original = getattr(dedup, name)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("databeats_spark")
                    and getattr(mod, name, None) is original):
                monkeypatch.setattr(mod, name, counting(name, original))
    expected = {
        "minhash_near_dups_exact": {"minhash_near_duplicates": 1},
        "minhash_estimate_audit": {"minhash_signatures": 1},
        "simhash_near_dups_exact": {"banded_hamming_pairs": 1},
        "phash_near_dups_exact": {"banded_hamming_pairs": 1},
        "blockmean_near_dups_exact": {"banded_hamming_pairs": 2},  # two scales
        "semdedup_near_dups_exact": {"semantic_near_duplicates": 1},
    }
    q = queries()
    for twin, want in expected.items():
        calls.clear()
        q[twin](spark, SF_SMOKE)
        assert calls == want, f"{twin} called {calls}, expected {want}"

def test_minhash_estimate_audit_matches_hashlib_replica(spark):
    """Per-band estimator calibration vs a pure-Python md5 replica:
    same hash family, same banding, same exact-Jaccard denominator."""
    import hashlib
    import math
    import re
    from collections import defaultdict

    import pandas as pd

    from databeats_spark.registry import queries
    from databeats_spark.registry.documents import PAIR_DOC_LIMIT
    from databeats_spark.registry.vectors import MINHASH_EXACT_HASHES as H

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    docs = docs[docs.doc_id < PAIR_DOC_LIMIT]
    shingles = {}
    for r in docs.itertuples():
        toks = [w for w in re.split(r"\s+", str(r.text).strip()) if w]
        shingles[r.doc_id] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    sig = {
        d: [
            min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh)
            for i in range(H)
        ]
        for d, sh in shingles.items()
        if sh
    }
    ids = sorted(sig)
    bands = defaultdict(lambda: [0, 0, 0.0, 0.0])  # n, sum_matches, sum_jac, sum_abs
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            common = len(shingles[a] & shingles[b])
            if common == 0:
                continue
            jac = common / (len(shingles[a]) + len(shingles[b]) - common)
            m = sum(1 for i in range(H) if sig[a][i] == sig[b][i])
            band = min(int(math.floor(jac * 10)), 9)
            bands[band][0] += 1
            bands[band][1] += m
            bands[band][2] += jac
            bands[band][3] += abs(m / H - jac)

    got = queries()["minhash_estimate_audit"](spark, SF_SMOKE).toPandas()
    assert list(got.band) == sorted(bands)
    for r in got.itertuples():
        n, sm, sj, sa = bands[r.band]
        assert r.n_pairs == n and r.n_pairs * 0 + sm == sm
        assert r.mean_est == round(sm / (H * n), 6)
        assert abs(r.mean_exact - sj / n) < 2e-6
        assert abs(r.mae - sa / n) < 2e-6
        assert abs(r.bias - (sm / (H * n) - sj / n)) < 2e-6


def test_minhash_estimate_extremes_on_planted_corpus(spark, tmp_path):
    """Identical docs estimate 1.0 in the top band; docs sharing one
    boilerplate shingle out of many sit in band 0 with a near-zero
    estimate — the calibration curve's anchor points."""
    from databeats_spark.registry.vectors import _minhash_estimate_audit

    twin = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(0, twin, "en", "s", len(twin)), (1, twin, "en", "s", len(twin))]
    # two long docs overlapping in exactly one 3-gram window
    a = " ".join(f"a{i}" for i in range(40)) + " shared tri gram"
    b = "shared tri gram " + " ".join(f"b{i}" for i in range(40))
    rows += [(2, a, "en", "s", len(a)), (3, b, "en", "s", len(b))]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{tmp_path}/sf/documents.parquet")

    got = _minhash_estimate_audit(spark, f"{tmp_path}/sf").toPandas().set_index("band")
    assert got.loc[9].mean_est == 1.0 and got.loc[9].mean_exact == 1.0
    assert 0 in got.index and got.loc[0].mean_est <= 0.25
