"""Training-data pipeline ops (text analysis, dedup family, similarity
search) vs DuckDB oracles, plus LSH quality gates."""

from __future__ import annotations

from conftest import SF_SMOKE, assert_matches_oracle, duck_con, rows_set

from sigmod_2024_contest_spark import api

ORACLE_CHECKED = [
    "text_stats",
    "lang_id",
    "doc_fingerprint",
    "dedup_exact",
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_cosine_lsh",
    "ann_cosine_topk",
    "ann_lsh_topk",
]


def _check(spark, name):
    fn = api.queries()[name]
    sql = api.oracle_sql()[name]
    assert_matches_oracle(fn(spark, SF_SMOKE), duck_con(SF_SMOKE), sql)


def test_text_stats(spark):
    _check(spark, "text_stats")


def test_lang_id(spark):
    _check(spark, "lang_id")


def test_doc_fingerprint(spark):
    _check(spark, "doc_fingerprint")


def test_dedup_exact(spark):
    _check(spark, "dedup_exact")


def test_dedup_jaccard(spark):
    _check(spark, "dedup_jaccard")


def test_dedup_minhash_lsh(spark):
    _check(spark, "dedup_minhash_lsh")


def test_dedup_simhash(spark):
    _check(spark, "dedup_simhash")


def test_dedup_embedding_cosine(spark):
    _check(spark, "dedup_embedding_cosine")


def test_decontaminate(spark):
    _check(spark, "decontaminate")


def test_decontaminate_catches_planted_overlap(spark):
    """A train doc sharing a long rare phrase with a bench doc is
    flagged with the exact shared-shingle count; unrelated docs are
    not; a stop-phrase shared by everyone flags nothing."""
    from sigmod_2024_contest_spark.operators import dedup

    phrase = "zebra quark lattice morphism entropy gradient"  # 4 shingles
    rows = [(i, "common stop phrase filler" + f" unique{i}a unique{i}b unique{i}c") for i in range(1, 130)]
    rows.append((200, "intro words then " + phrase))  # bench (200 % 10 == 0)
    rows.append((201, "other lead-in text " + phrase))  # train
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.train_doc_id, r.bench_doc_id): r.shared
        for r in dedup.decontaminate(docs, min_shared=2).collect()
    }
    assert got.get((201, 200), 0) >= 4
    assert all(t == 201 for t, _ in got)


def test_dedup_cosine_lsh(spark):
    """LSH-blocked near-dup pairs (the 100 TB shape of the cosine
    dedup: bucket-join candidates + exact Catalyst-fold verify)."""
    _check(spark, "dedup_cosine_lsh")


def test_jaccard_hot_shingle_cap(spark):
    """A stop-word trigram shared by every document must not create a
    quadratic candidate key: with the df cap the planted hot shingle
    generates ZERO candidate pairs (the docs share nothing else) where
    the uncapped join enumerates all n(n−1)/2 — and genuinely
    overlapping docs still surface with their exact Jaccard."""
    from sigmod_2024_contest_spark.operators import dedup

    n = 120
    rows = [(i, f"stop word trigram unique{i}a unique{i}b unique{i}c") for i in range(n)]
    rows.append((1000, "alpha beta gamma delta epsilon zeta"))
    rows.append((1001, "alpha beta gamma delta epsilon eta"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup._doc_shingles(docs)
    assert dedup._jaccard_candidates(sh, None).count() >= n * (n - 1) // 2
    capped = {(r.d1, r.d2) for r in dedup._jaccard_candidates(sh, dedup.HOT_SHINGLE_DF_CAP).collect()}
    assert capped == {(1000, 1001)}, capped
    pairs = {(r.d1, r.d2): r.jaccard_ppm for r in dedup.jaccard_pairs(docs).collect()}
    assert pairs == {(1000, 1001): 600_000}, pairs  # 3 shared / 5 union


def test_lsh_planes_scale_with_corpus(spark):
    """Bucket count derives from corpus size (constant target
    rows/bucket): the two fixture scales land on different plane
    counts, and the oracle — which derives the identical count from
    count(*) with integer compares — still hash-matches at the larger
    scale (the smaller scale is covered by the ORACLE_CHECKED suite)."""
    from sigmod_2024_contest_spark.operators import similarity
    from sigmod_2024_contest_spark.sources.tables import load_table

    sf_big = "/root/testdata/sf0.1"  # embeddings: 2000 rows vs 500
    n_small = load_table(spark, SF_SMOKE, "embeddings").count()
    n_big = load_table(spark, sf_big, "embeddings").count()
    assert similarity.n_planes_for(n_small) != similarity.n_planes_for(n_big)
    fn = api.queries()["ann_lsh_topk"]
    sql = api.oracle_sql()["ann_lsh_topk"]
    assert_matches_oracle(fn(spark, sf_big), duck_con(sf_big), sql)


def test_dedup_cosine_lsh_blocking_recall(spark):
    """Blocking recall in the operator's design regime: plant true
    near-dup pairs (cos ≥ ~0.97) among the fixture embeddings — the
    hyperplane buckets must surface ≥90% of them at τ=0.9. (The
    fixture's own pairs all sit at cos≈0.40-0.45, where 8-plane
    Hamming≤2 coverage is ~40% by construction — that regime belongs
    to the label/exact ops, not LSH.)"""
    import numpy as np
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.operators import dedup
    from sigmod_2024_contest_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = emb.orderBy("vec_id").limit(20).collect()
    rng = np.random.default_rng(3)
    planted = []
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        noisy = v + rng.normal(scale=0.08 * np.linalg.norm(v) / np.sqrt(v.size), size=v.size)
        planted.append((int(r.vec_id) + 1_000_000, [float(x) for x in noisy], int(r.label)))
    dup_df = spark.createDataFrame(planted, "vec_id long, embedding array<float>, label int")
    union = emb.unionByName(dup_df)
    found = {
        (r.d1, r.d2)
        for r in dedup.cosine_pairs_lsh(union, tau_ppm=900_000).collect()
    }
    want = {(int(r.vec_id), int(r.vec_id) + 1_000_000) for r in rows}
    got = len(want & found) / len(want)
    assert got >= 0.9, (got, sorted(want - found)[:5])


def test_sample_balanced_splits(spark):
    _check(spark, "sample_balanced_splits")


def test_dedup_clusters_oracle(spark):
    _check(spark, "dedup_clusters")


def test_dedup_clusters_multihop(spark):
    """A 4-node chain needs several propagation rounds — pins that the
    fixpoint loop actually iterates past round one."""
    from sigmod_2024_contest_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "d1 long, d2 long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


def test_sample_split_stability(spark):
    """A doc's split assignment must not change when the corpus does —
    the property that keeps held-out sets honest across re-runs."""
    from sigmod_2024_contest_spark.operators.sampling import balanced_sample_splits
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    full = {r.doc_id: r.split for r in balanced_sample_splits(docs).collect()}
    half = {
        r.doc_id: r.split
        for r in balanced_sample_splits(docs.filter("doc_id % 2 = 0")).collect()
    }
    # every doc sampled in both runs keeps its split; strata stay balanced
    overlap = set(full) & set(half)
    assert overlap and all(full[d] == half[d] for d in overlap)


def test_ann_cosine_topk(spark):
    _check(spark, "ann_cosine_topk")


def test_ann_lsh_topk(spark):
    _check(spark, "ann_lsh_topk")


def test_jaccard_finds_near_dups(spark):
    """The synthetic corpus plants near-duplicates — the op must find them."""
    from sigmod_2024_contest_spark.operators import dedup
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    n = dedup.jaccard_pairs(docs).count()
    assert n > 0, "expected planted near-dup pairs at sf0.001"


def test_minhash_lsh_recall(spark):
    """LSH candidates must recover most true Jaccard pairs (banded
    MinHash with 4 bands x 3 rows has >90% hit prob at tau=0.5)."""
    from sigmod_2024_contest_spark.operators import dedup
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    truth = {(r.d1, r.d2) for r in dedup.jaccard_pairs(docs).collect()}
    got = {(r.d1, r.d2) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert got <= truth, "LSH output must be verified (no false positives)"
    if truth:
        assert len(got) / len(truth) >= 0.7, (len(got), len(truth))


def test_token_counts_oracle(spark):
    _check(spark, "token_counts")


def test_sq8_asym_encode_oracle(spark):
    _check(spark, "sq8_asym_encode")


def test_ivf_recall_beats_lsh(spark):
    """IVF probes nprobe/nlist of the corpus; on the near-isotropic
    testdata its recall must clear the LSH path's (it scans a larger,
    geometry-aware candidate set)."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.operators import evaluate, similarity
    from sigmod_2024_contest_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = similarity.ann_cosine_topk(emb).cache()
    ivf = similarity.ann_ivf_topk(emb)
    rec = evaluate.recall_at_k(ivf, exact)
    mean_ivf = rec.agg(F.avg("recall_ppm")).first()[0]
    lsh = evaluate.recall_at_k(similarity.ann_lsh_topk(emb), exact)
    mean_lsh = lsh.agg(F.avg("recall_ppm")).first()[0]
    assert mean_ivf > mean_lsh, (mean_ivf, mean_lsh)
    assert mean_ivf > 300_000, mean_ivf


def test_embed_project(spark):
    _check(spark, "embed_project")


def test_embed_project_arrow_matches_fold(spark):
    """The Arrow GEMM scale path and the Catalyst fold oracle path are
    the same projection up to float summation order: every component
    must agree within ppm rounding slack."""
    from sigmod_2024_contest_spark.operators import similarity
    from sigmod_2024_contest_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    arrow = {r.vec_id: r.proj for r in similarity.embed_project(emb).collect()}
    fold = {r.vec_id: r.proj_ppm for r in
            similarity.embed_project(emb, method="fold").collect()}
    assert set(arrow) == set(fold) and arrow
    for vid, proj in arrow.items():
        assert len(proj) == similarity.EMBED_PROJECT_DIM
        for a, f in zip(proj, fold[vid]):
            assert abs(a * 1e6 - f) <= 2, (vid, a, f)


def test_ivf_train_local_twin_matches_distributed(spark):
    """The driver-side Lloyd twin (default route under pq.PQ_LOCAL_ROWS)
    and the forced-distributed loop share init and update formulas —
    centroids must agree to float tolerance (exact equality is not
    promised: the two sides fold partial sums in different orders)."""
    import numpy as np

    from sigmod_2024_contest_spark.operators import similarity
    from sigmod_2024_contest_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    local = similarity.ivf_train(emb)
    dist = similarity.ivf_train(emb, local_rows=0)
    assert local.shape == dist.shape and local.shape[0] > 0
    assert np.allclose(local, dist, rtol=1e-9, atol=1e-9)


def test_curate_corpus(spark):
    """The composed curation pipeline (dedup -> clusters -> canonical
    keep -> quality filter -> split) hash-matches its single composed
    SQL oracle end-to-end."""
    _check(spark, "curate_corpus")


def test_curate_corpus_invariants(spark):
    """Structural invariants: one doc per cluster survives, every kept
    doc is its own cluster label, splits are exhaustive."""
    from sigmod_2024_contest_spark.operators import curation
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    out = curation.curate_corpus(docs).collect()
    assert out, "curated corpus must be non-empty"
    assert all(r.doc_id == r.cluster_id for r in out)
    assert {r.split for r in out} <= {"train", "val", "test"}
    ids = [r.doc_id for r in out]
    assert len(ids) == len(set(ids))


def test_pack_sequences(spark):
    _check(spark, "pack_sequences")


def test_chunk_documents(spark):
    _check(spark, "chunk_documents")


def test_redact_pii(spark):
    _check(spark, "redact_pii")


def test_winnow_fingerprints(spark):
    _check(spark, "winnow_fingerprints")


def test_ngram_counts(spark):
    _check(spark, "ngram_counts")


def test_dedup_containment(spark):
    _check(spark, "dedup_containment")


def test_containment_catches_subset_jaccard_misses(spark):
    """The asymmetry claim: a short doc fully embedded in a long one
    clears the containment cut but not the Jaccard cut."""
    from sigmod_2024_contest_spark.operators import dedup

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, f"{filler} {short}"), (3, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    cont = dedup.containment_pairs(docs).collect()
    assert len(cont) == 1 and (cont[0].d1, cont[0].d2) == (1, 2)
    assert cont[0].c12_ppm == 1_000_000  # every shingle of doc 1 is in doc 2
    assert cont[0].c21_ppm < 200_000
    jac = dedup.jaccard_pairs(docs).collect()
    assert jac == []  # low union overlap → Jaccard misses the pair


def test_winnow_guarantee_planted(spark):
    """Winnowing's cover guarantee on planted near-copies: two docs
    sharing a run of ≥ window+2 consecutive tokens must share ≥1
    fingerprint value; a doc with no 3-token overlap shares none; and
    per-doc window counts follow max(n_shingles - window + 1, 1)."""
    from sigmod_2024_contest_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens ≥ w+2
    docs = spark.createDataFrame(
        [
            (1, f"intro words {shared} tail one"),
            (2, f"other leading stuff {shared} different end"),
            (3, "completely unrelated token stream here now"),
            (4, "tiny doc"),          # <3 tokens → no shingle, no rows
            (5, "just three tokens"), # 1 shingle → 1 window
        ],
        "doc_id long, text string",
    )
    rows = dedup.winnow_fingerprints(docs).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "near-copies share no fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert 4 not in fps
    assert len([r for r in rows if r.doc_id == 5]) == 1
    for did, n_tok in ((1, 10), (2, 11), (3, 6)):
        n_sh = n_tok - 2
        want = max(n_sh - dedup.WINNOW_WINDOW + 1, 1)
        assert len([r for r in rows if r.doc_id == did]) == want, did


def test_redact_pii_planted(spark):
    """Planted PII: both engines must count and mask identically on
    docs that actually contain emails/phones (the parquet corpus has
    none, so the registry row only pins the no-op path)."""
    import duckdb

    from sigmod_2024_contest_spark.functions import text as T

    rows = [
        (1, "reach me at bob.smith+x@example.org or 555-123-4567 now"),
        (2, "two mails a@b.io c.d@e.f.gov and 111 222 3333 phone"),
        (3, "no pii here at all"),
        (4, "bad phone 12-345-6789 and half mail a@b only"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in T.redact_pii(docs).collect()}
    assert got[1].n_emails == 1 and got[1].n_phones == 1
    assert got[1].redacted == "reach me at <EMAIL> or <PHONE> now"
    assert got[2].n_emails == 2 and got[2].n_phones == 1
    assert got[3].n_emails == 0 and got[3].n_phones == 0
    assert got[3].redacted == rows[2][1]
    assert got[4].n_emails == 0 and got[4].n_phones == 0
    # engine parity on the planted set, not just the clean corpus
    con = duckdb.connect()
    con.register("planted", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    want = {r[0]: r for r in con.sql(T.redact_pii_sql(table="planted")).fetchall()}
    for did, r in got.items():
        assert (r.doc_id, r.n_emails, r.n_phones, r.redacted) == want[did]


def test_chunk_documents_invariants(spark):
    """Sliding-window invariants on planted docs: full coverage (every
    token in ≥1 chunk), stride spacing, overlap between consecutive
    chunks, short-final-chunk length, and exact text reconstruction."""
    from sigmod_2024_contest_spark.operators import curation

    text = " ".join(f"t{i}" for i in range(1, 81))  # 80 tokens
    docs = spark.createDataFrame(
        [(1, text), (2, "a b c"), (3, "solo")], "doc_id long, text string"
    )
    rows = curation.chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    # stride 24: starts 1, 25, 49, 73; last chunk 80-73+1 = 8 tokens
    assert [r.start_tok for r in c1] == [1, 25, 49, 73]
    assert [r.n_tok for r in c1] == [32, 32, 32, 8]
    toks = text.split(" ")
    for r in c1:
        assert r.chunk_text == " ".join(toks[r.start_tok - 1 : r.start_tok - 1 + r.n_tok])
    covered = set()
    for r in c1:
        covered.update(range(r.start_tok, r.start_tok + r.n_tok))
    assert covered == set(range(1, 81))
    # short docs: one chunk, whole doc
    assert [(r.start_tok, r.n_tok, r.chunk_text) for r in by_doc[2]] == [(1, 3, "a b c")]
    assert [(r.start_tok, r.n_tok, r.chunk_text) for r in by_doc[3]] == [(1, 1, "solo")]


def test_pack_sequences_invariants(spark):
    """Concat-and-chunk invariants: offsets stay inside the budget,
    consecutive docs in a bucket abut exactly, every doc packed once."""
    from sigmod_2024_contest_spark.operators import curation
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = curation.pack_sequences(docs).collect()
    assert len(rows) == docs.count()
    assert all(0 <= r.start_offset < curation.PACK_BUDGET_TOKENS for r in rows)
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    for b, rs in by_bucket.items():
        rs.sort(key=lambda r: r.doc_id)
        pos = 0
        for r in rs:
            assert r.pack_id * curation.PACK_BUDGET_TOKENS + r.start_offset == pos, (b, r)
            pos += r.n_tokens


def test_pack_sequences_scale_derived_buckets(spark):
    """Bucket fan-out derives from the corpus token total (constant
    tokens/bucket — the 100 TB shape): two corpora whose totals land in
    different bands derive different counts, and Spark hash-matches the
    SQL oracle at BOTH sizes (the oracle derives the identical count
    from its own token sum, no side-channel)."""
    import duckdb
    import pandas as pd

    from sigmod_2024_contest_spark.operators import curation

    small = [(i, "a b c d") for i in range(100)]  # 400 tokens
    big = [(i, " ".join(["tok"] * 100)) for i in range(2000)]  # 200k tokens
    assert curation.n_pack_buckets(400) == 4
    assert curation.n_pack_buckets(200_000) == 32
    for rows in (small, big):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        assert_matches_oracle(
            curation.pack_sequences(docs), con, curation.pack_sequences_sql()
        )


def test_pack_sequences_growth_stability(spark):
    """At a fixed bucket count, appending documents with larger doc_ids
    (growing every bucket stream at its tail) leaves each existing
    document's (bucket, pack_id, start_offset) unchanged — packing is
    append-stable, so incremental corpus growth never repacks history."""
    from sigmod_2024_contest_spark.operators import curation

    schema = "doc_id long, text string"
    base_rows = [(i, " ".join(["w"] * (7 + i % 13))) for i in range(200)]
    extra = [(1000 + i, " ".join(["w"] * 9)) for i in range(100)]
    nb = 8

    def packed(rows):
        return {
            r.doc_id: (r.bucket, r.pack_id, r.start_offset)
            for r in curation.pack_sequences(
                spark.createDataFrame(rows, schema), buckets=nb
            ).collect()
        }

    before = packed(base_rows)
    after = packed(base_rows + extra)
    assert before and all(after[d] == v for d, v in before.items())


def test_curate_corpus_distributed_cc_twin(spark):
    """A/B the composed pipeline's 100 TB clustering twin: curate_corpus
    with the distributed pointer-jumping CC loop pinned must be
    row-identical to the cost-based (driver-CC) plan."""
    from sigmod_2024_contest_spark.operators import curation
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    a = rows_set(curation.curate_corpus(docs).collect())
    b = rows_set(curation.curate_corpus(docs, force_distributed_cc=True).collect())
    assert a and a == b


def test_mixture_sample(spark):
    _check(spark, "mixture_sample")


def test_mixture_sample_proportions(spark):
    """The kept corpus must follow the weight recipe: the max-demand
    stratum is kept whole, and kept counts track w_s up to hash noise."""
    from sigmod_2024_contest_spark.operators import sampling
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    kept = sampling.mixture_sample(docs, weights={"src0": 4.0, "src1": 2.0}).collect()
    by_src = {}
    for r in kept:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    assert by_src["src0"] == 25  # highest demand → kept whole
    assert by_src["src0"] > by_src.get("src1", 0) > max(
        v for s, v in by_src.items() if s not in ("src0", "src1")
    )


def test_vocab_counts(spark):
    _check(spark, "vocab_counts")


def test_decontaminate_shuffle_twin_matches_broadcast(spark):
    """broadcast_bench=False (the corpus-sized-bench fallback) must
    produce exactly the broadcast plan's rows — the hint changes the
    physical join only."""
    from sigmod_2024_contest_spark.operators import dedup
    from sigmod_2024_contest_spark.sources.tables import load_table
    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    a = sorted(map(tuple, dedup.decontaminate(docs).collect()))
    b = sorted(map(tuple, dedup.decontaminate(docs, broadcast_bench=False).collect()))
    assert a == b and a


def test_text_repetition(spark):
    _check(spark, "text_repetition")


def test_text_repetition_planted_values(spark):
    """Hand-computed 2-gram features: a doc that is one phrase repeated
    must show high dup fraction and a dominant top gram; an
    all-distinct doc must show zero duplicates."""
    from sigmod_2024_contest_spark.functions import text as T

    docs = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),   # 2-grams: sh,hs,sh,hs,sh
            (2, "a b c d"),                      # all distinct
            (3, "solo"),                         # no 2-grams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in T.text_repetition(docs).collect()}
    r1 = got[1]
    assert r1.n_2grams == 5 and r1.distinct_2grams == 2
    assert r1.dup_2gram_ppm == 600_000  # 3 of 5 occurrences are repeats
    # top gram 'spam ham' (count 3, ties broken by gram desc), len 8;
    # doc chars 26 → floor(3*8/26*1e6)
    assert r1.top_2gram_count == 3 and r1.top_2gram_char_ppm == 923_076
    r2 = got[2]
    assert r2.n_2grams == 3 and r2.dup_2gram_ppm == 0
    r3 = got[3]
    assert r3.n_2grams == 0 and r3.top_2gram_count == 0 and r3.top_2gram_char_ppm == 0


def _py_chunks(n_tok, chunk, overlap):
    """Pure-python reference for chunk_documents' window arithmetic."""
    stride = max(chunk - overlap, 1)
    out = []
    s = 1
    while s <= n_tok:
        out.append((s, min(chunk, n_tok - s + 1)))
        s += stride
    return out


def test_chunk_documents_property(spark):
    """Randomized doc lengths vs the pure-python window reference:
    starts, lengths, and full coverage for every length in one pass."""
    import random

    rng = random.Random(7)
    lens = [rng.randint(1, 120) for _ in range(40)]
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(n))) for i, n in enumerate(lens)],
        "doc_id long, text string",
    )
    from sigmod_2024_contest_spark.operators import curation

    rows = curation.chunk_documents(docs, chunk_tokens=16, overlap=4).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append((r.start_tok, r.n_tok))
    for i, n in enumerate(lens):
        want = _py_chunks(n, 16, 4)
        assert sorted(got[i]) == sorted(want), (i, n)
        covered = set()
        for s, ln in got[i]:
            covered.update(range(s, s + ln))
        assert covered == set(range(1, n + 1)), i


def test_winnow_property(spark):
    """Randomized docs vs a pure-python winnow reference (same hash48
    via hashlib.md5): identical (win_id, fp) sets per doc."""
    import hashlib
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]  # small vocab → real repeats
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60)))
        for _ in range(30)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    from sigmod_2024_contest_spark.operators import dedup

    W = dedup.WINNOW_WINDOW
    rows = dedup.winnow_fingerprints(docs).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append((r.win_id, r.fp))
    for i, text in enumerate(texts):
        ws = text.split(" ")
        hs = [
            int(hashlib.md5(" ".join(ws[j : j + 3]).encode()).hexdigest()[:12], 16)
            for j in range(len(ws) - 2)
        ]
        if not hs:
            assert i not in got
            continue
        if len(hs) < W:
            want = [(1, min(hs))]
        else:
            want = [(j + 1, min(hs[j : j + W])) for j in range(len(hs) - W + 1)]
        assert sorted(got[i]) == sorted(want), i


# --- r7: TF-IDF keyword extraction ---


def test_tfidf_topk_oracle(spark):
    _check(spark, "tfidf_topk")


def test_tfidf_topk_planted(spark):
    """Hand-checkable corpus: a term unique to one doc must outrank a
    corpus-wide term there, and scores follow tf*1e6//(1+df) exactly."""
    from sigmod_2024_contest_spark.functions import text as T

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common", "en", "s", 0),
            (2, "banana common", "en", "s", 0),
            (3, "common cherry cherry cherry", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {(r.doc_id, r.term): (r.tf, r.df, r.score_ppm, r.rnk)
           for r in T.tfidf_topk(docs, k=2).collect()}
    # doc 1: apple tf=2 df=1 -> 1_000_000; banana tf=1 df=2 -> 333_333
    assert got[(1, "apple")] == (2, 1, 1_000_000, 1)
    assert got[(1, "banana")] == (1, 2, 333_333, 2)
    # doc 3: cherry tf=3 df=1 -> 1_500_000 ranks above common (df=3)
    assert got[(3, "cherry")] == (3, 1, 1_500_000, 1)
    assert got[(3, "common")][3] == 2
    # k=2 cut: doc 1's third term (common) must be absent
    assert (1, "common") not in got


def test_tfidf_topk_leaves_no_cached_rdds(spark):
    """r7 verdict #2: the r7 tfidf shape persisted its pair table and
    never unpersisted, leaking one cached RDD per call across the
    driver's 100-entry session. The rewrite (df as a window count over
    term — no diamond) must leave the persistent-RDD map exactly as it
    found it after the action completes."""
    from sigmod_2024_contest_spark.functions import text as T

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i % 3} shared", "en", "s", 0) for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert T.tfidf_topk(docs, k=3).count() > 0
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after == before


# --- r7: explicit skew-salted join ---


def test_salted_user_join_oracle(spark):
    _check(spark, "salted_user_join")


def test_salted_join_equals_plain_join(spark):
    """Salting is a partitioning rewrite only: the joined row multiset
    must be identical to the plain equi-join, for every salt count."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.operators import skew
    from sigmod_2024_contest_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    dim = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    plain = sorted(
        (r.event_id, r.user_id, r.cnt)
        for r in ev.join(dim, "user_id").collect()
    )
    for n_salts in (1, 3, 8):
        salted = sorted(
            (r.event_id, r.user_id, r.cnt)
            for r in skew.salted_join(ev, dim, "user_id", "event_id", n_salts).collect()
        )
        assert salted == plain, n_salts


def test_salted_join_replicates_small_side(spark):
    """The plan must show the salt explode on the small side (the
    replication that de-skews the hot key) and join on (key, _salt)."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.operators import skew
    from sigmod_2024_contest_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    dim = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    df = skew.salted_join(ev, dim, "user_id", "event_id", 4)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate explode" in plan or "explode" in plan, plan[:600]
    assert "_salt" in plan


# ---------------------------------------------------------------------------
# r10 quality-filter family
# ---------------------------------------------------------------------------


def test_quality_classifier_oracle(spark):
    _check(spark, "quality_classifier")


def test_quality_classifier_keep_is_logit_sign(spark):
    from sigmod_2024_contest_spark.functions.text import quality_classifier
    from sigmod_2024_contest_spark.sources.tables import load_table

    rows = quality_classifier(load_table(spark, SF_SMOKE, "documents")).collect()
    assert rows
    for r in rows:
        # logit_ppm = floor(z * 1e6): z >= 0  ⇔  floor(z * 1e6) >= 0
        assert r.keep == (r.logit_ppm >= 0)


def test_source_quality_summary_oracle(spark):
    _check(spark, "source_quality_summary")


def test_bigram_likelihood_oracle(spark):
    _check(spark, "bigram_likelihood")


def test_bigram_likelihood_invariants(spark):
    """n_bigrams = n_tokens - 1 per doc (every adjacent pair scores —
    the model is trained on the same corpus, so no pair is unseen) and
    each per-pair ppm ≤ 1e6 bounds the average."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.functions.text import (
        bigram_likelihood,
        tokens_expr,
    )
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    out = bigram_likelihood(docs)
    ntok = docs.select("doc_id", F.size(tokens_expr("text")).alias("n"))
    joined = out.join(ntok, "doc_id").collect()
    assert joined
    for r in joined:
        assert r.n_bigrams == max(r.n - 1, 0)
        assert 0 <= r.avg_ppm <= 1_000_000


def test_bigram_likelihood_planted_model(spark):
    """Hand-computable corpus: model counts and per-doc ppm sums are
    exact integers."""
    from sigmod_2024_contest_spark.functions.text import bigram_likelihood

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "a c"), (4, "x")],
        "doc_id long, text string",
    )
    # bigrams: d1: (a,b),(b,a),(a,b); d2: (a,b); d3: (a,c); d4: none
    # c2: (a,b)=4 (three from d1+d2... actually d1 has two (a,b)), let's count:
    # d1: (a,b),(b,a),(a,b) -> (a,b):2, (b,a):1 ; d2: (a,b):1 ; d3: (a,c):1
    # c2(a,b)=3, c2(b,a)=1, c2(a,c)=1 ; c1(a)=4, c1(b)=1
    # ppm(a,b) = 3*1e6 // 4 = 750000 ; ppm(b,a) = 1e6 ; ppm(a,c) = 250000
    got = {r.doc_id: r for r in bigram_likelihood(docs).collect()}
    assert got[1].n_bigrams == 3 and got[1].ll_ppm_sum == 750000 * 2 + 1000000
    assert got[2].n_bigrams == 1 and got[2].ll_ppm_sum == 750000
    assert got[3].n_bigrams == 1 and got[3].ll_ppm_sum == 250000
    assert got[4].n_bigrams == 0 and got[4].ll_ppm_sum == 0 and got[4].avg_ppm == 0


def test_dedup_keep_best_oracle(spark):
    _check(spark, "dedup_keep_best")


def test_dedup_keep_best_invariants(spark):
    """Exactly one keeper per cluster, and the keeper attains the
    cluster's max quality (ties to smallest doc_id)."""
    from collections import defaultdict

    from sigmod_2024_contest_spark.operators.curation import dedup_keep_best
    from sigmod_2024_contest_spark.sources.tables import load_table

    rows = dedup_keep_best(load_table(spark, SF_SMOKE, "documents")).collect()
    assert rows
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    for members in by_cluster.values():
        keepers = [r for r in members if r.keep]
        assert len(keepers) == 1
        best = min(members, key=lambda r: (-r.logit_ppm, r.doc_id))
        assert keepers[0].doc_id == best.doc_id


def test_dedup_keep_best_distributed_cc_twin(spark):
    """The keep-best pipeline over the distributed clustering twin is
    row-identical to the driver-CC plan (100 TB path A/B)."""
    from sigmod_2024_contest_spark.operators.curation import dedup_keep_best
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    a = rows_set(dedup_keep_best(docs).collect())
    b = rows_set(dedup_keep_best(docs, force_distributed_cc=True).collect())
    assert a == b


def test_dup_ngram_stats_oracle(spark):
    _check(spark, "dup_ngram_stats")


def test_dup_ngram_stats_planted(spark):
    """Hand-computable cross-doc duplication: a shared 3-gram counts
    toward BOTH docs; a doc-unique gram (even repeated within the doc)
    does not; short docs zero out."""
    from sigmod_2024_contest_spark.functions.text import dup_ngram_stats

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # grams: tqb, qbf, bfj, fjx(ish)
            (2, "the quick brown cat"),          # shares 'the quick brown'
            (3, "zz yy xx zz yy xx zz"),         # self-repeats only
            (4, "one two"),                       # too short for 3-grams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dup_ngram_stats(docs).collect()}
    # doc 1: 3 grams, only 'the quick brown' shared -> 1/3
    assert got[1].n_3grams == 3 and got[1].shared_3grams == 1
    assert got[1].dup_3gram_ppm == 1_000_000 // 3
    # doc 2: 2 grams, 1 shared
    assert got[2].n_3grams == 2 and got[2].shared_3grams == 1
    # doc 3: within-doc repeats are NOT cross-doc duplication
    assert got[3].n_3grams == 5 and got[3].shared_3grams == 0
    assert got[4].n_3grams == 0 and got[4].dup_3gram_ppm == 0


def test_quality_classifier_plan_is_zero_exchange_single_split(spark):
    """Plan-assert the classifier's 100 TB property: one column-pruned
    scan, NO exchange, NO Python stage. The default (inline) shape
    repeats split(text) per feature in the PLAN text but whole-stage
    codegen's subexpression elimination evaluates it once at runtime
    (the r11 A/B showed the shapes within noise of each other); the
    hoist=True shape keeps the textual single-split property, pinned
    here so the A/B alternative stays available and correct."""
    from sigmod_2024_contest_spark.functions.text import quality_classifier
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    for hoist in (False, True):
        df = quality_classifier(docs, hoist=hoist)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan and "ArrowEval" not in plan
        if hoist:
            assert plan.count("split(text") == 1, plan.count("split(text")


def test_text_stats_and_lang_id_single_split(spark):
    """The hoisted shape of the other multi-feature projections keeps
    exactly one split in the plan (CollapseProject does not re-inline
    it); the inline default relies on codegen CSE instead — both
    shapes are value-identical (asserted in tools/ab_hoist.py at
    commit 9f5e074 and by
    every oracle row)."""
    from sigmod_2024_contest_spark.functions.text import lang_id, text_stats
    from sigmod_2024_contest_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    for fn in (text_stats, lang_id):
        plan = fn(docs, hoist=True)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("split(text") == 1, (fn.__name__, plan.count("split(text"))
        inline = fn(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in inline  # zero-exchange either way


def test_winnow_match_pairs_oracle(spark):
    _check(spark, "winnow_match_pairs")


def test_winnow_match_pairs_planted(spark):
    """Winnowing's cover guarantee carries to the matching join: two
    docs sharing a >= window+2-token verbatim run MUST pair (each
    matching region contributes >= 1 shared fingerprint, and the
    planted run spans two regions => n_shared >= min_shared); disjoint
    docs never pair."""
    from sigmod_2024_contest_spark.operators.dedup import winnow_match_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"intro one {shared} tail one"),
            (2, f"other opening words {shared} different ending"),
            (3, "completely unrelated tokens nothing in common here at all"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.d1, r.d2): r.n_shared for r in winnow_match_pairs(docs).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in k for k in pairs)
