"""Semantics tests for the LLM-data-pipeline operators (text analysis,
dedup families, similarity search). Oracle-level value equality is covered
by tools/check_correctness.py; these pin the operator contracts on small
hand-built frames so regressions localize.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from financial_data_engineering_spark.functions import text as tx
from financial_data_engineering_spark.functions.vectors import (
    cosine_similarity,
    cosine_similarity_fixed,
)
from financial_data_engineering_spark.llm import dedup as dd
from financial_data_engineering_spark.llm import similarity as sim


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count_and_empty_text(spark):
    df = spark.createDataFrame(
        [(1, "one two  three"), (2, ""), (3, "   "), (4, "word")],
        "id int, text string",
    )
    got = {
        r["id"]: r["n"]
        for r in df.select("id", tx.token_count(F.col("text")).alias("n")).collect()
    }
    assert got == {1: 3, 2: 0, 3: 0, 4: 1}


def test_tokens_is_the_single_shared_contract():
    """Every module that tokenizes does so through functions.text.tokens —
    the identity check that makes a silent divergence (which would corrupt
    the boilerplate-coverage statistic) impossible."""
    from financial_data_engineering_spark.llm import dedup as dd_mod

    assert dd_mod.tokens is tx.tokens


def test_tokens_cross_engine_parity(spark):
    """Spark tokens() and DuckDB sql_tokens() split identically on the
    awkward inputs: blank, multi-space, tabs/newlines, mixed case,
    leading/trailing space, unicode."""
    import duckdb

    cases = [
        "one two  three",
        "",
        "   ",
        "Word",
        "\tTabs\nand  newlines ",
        "für DIE  Straße",
        "a",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got_spark = [
        r["t"] for r in df.select(tx.tokens(F.col("text")).alias("t")).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {tx.sql_tokens('$1::VARCHAR')}", [c]).fetchone()[0]
        for c in cases
    ]
    assert got_spark == got_duck


def test_oracle_tokenizers_match_sql_tokens():
    """Drift guard: every registered oracle that tokenizes does so with
    the exact sql_tokens() rendering (same trim/lower/regex) — any
    regexp_split_to_array written another way fails here."""
    import re

    import financial_data_engineering_spark.queries  # noqa: F401 register all
    from financial_data_engineering_spark.queries.registry import all_oracles

    canonical = re.escape("regexp_split_to_array(trim(lower(")
    for name, sql in all_oracles().items():
        for m in re.finditer(r"regexp_split_to_array\(", sql):
            frag = sql[m.start() : m.start() + 120]
            assert re.match(
                canonical + r"\w+(\.\w+)?\)\), '\\s\+'\)", frag
            ), f"{name}: non-canonical tokenizer {frag!r}"


def test_lang_id_votes(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is that for with"),
            (2, "der hund und die katze ist nicht ein"),
            (3, "le chat et la maison est dans pour"),
        ],
        "id int, text string",
    )
    got = {
        r["id"]: r["lang"]
        for r in df.select("id", tx.lang_id(F.col("text")).alias("lang")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "fr"}


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "hello worlds")],
        "id int, text string",
    )
    fps = [
        r["fp"]
        for r in df.orderBy("id")
        .select(tx.fingerprint(F.col("text")).alias("fp"))
        .collect()
    ]
    assert fps[0] == fps[1] != fps[2]


def test_shingles_short_text_empty(spark):
    df = _docs(spark, [(1, "a b"), (2, "a b c d")])
    got = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", dd.shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    assert got[1] == []
    assert got[2] == ["a b c", "b c d"]


def test_exact_survivors_picks_min_id(spark):
    df = _docs(spark, [(10, "same text here"), (3, "same  TEXT here"), (7, "other")])
    rows = {
        r["doc_id"]: r["n_copies"]
        for r in dd.exact_survivors(
            df, "doc_id", tx.fingerprint(F.col("text"))
        ).collect()
    }
    assert rows == {3: 2, 7: 1}


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("delta", "delta2", 1)
    far = "completely different words nothing shared at all whatsoever here now"
    df = _docs(spark, [(1, base), (2, near), (3, far)])
    pairs = dd.minhash_near_dup_pairs(df, threshold=0.3).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard_e4"] > 3000


def test_ngram_jaccard_matches_minhash_on_planted_pair(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("delta", "delta2", 1)
    df = _docs(spark, [(1, base), (2, near), (3, "unrelated text entirely here")])
    lsh = {(r["doc_a"], r["doc_b"]): r["jaccard_e4"] for r in
           dd.minhash_near_dup_pairs(df, threshold=0.3).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard_e4"] for r in
             dd.ngram_jaccard_pairs(df, threshold=0.3).collect()}
    # LSH candidates are a subset of exact pairs and agree on the verified value.
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert exact[k] == v


def test_ngram_jaccard_max_doc_freq_drops_stop_shingles(spark):
    shared = "the quick brown fox jumps over the lazy dog again"
    df = _docs(spark, [(i, shared) for i in range(1, 5)])
    all_pairs = dd.ngram_jaccard_pairs(df, threshold=0.1).count()
    cut = dd.ngram_jaccard_pairs(df, threshold=0.1, max_doc_freq=1).count()
    assert all_pairs == 6  # 4 identical docs -> C(4,2)
    assert cut == 0  # every shingle appears in 4 docs -> all dropped


def test_simhash_properties(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "x y z")])
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", dd.simhash64(F.col("text")).alias("s")).collect()
    }
    assert got[1] == got[2]
    assert len(got[1]) == 64 and set(got[1]) <= {"0", "1"}
    assert got[1] != got[3]


def test_cosine_fixed_matches_hof_and_math(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0], [0.5, 0.5, 0.0])],
        "id int, a array<float>, b array<float>",
    )
    row = df.select(
        cosine_similarity(F.col("a"), F.col("b")).alias("hof"),
        cosine_similarity_fixed(F.col("a"), F.col("b"), 3).alias("fixed"),
    ).collect()[0]
    assert row["hof"] == row["fixed"]
    assert math.isclose(row["fixed"], 1 / math.sqrt(2), rel_tol=1e-12)


def test_brute_force_topk_ranks_by_cosine(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.05]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = sim.brute_force_topk(
        emb.filter(F.col("vec_id") == 0), emb, k=2, dim=2
    ).collect()
    assert [(r["rank"], r["neighbor_id"]) for r in out] == [(1, 3), (2, 1)]


def test_lsh_topk_subset_of_brute_force(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 7) + 0.5, float((3 * i) % 5) - 2.0, 1.0, -0.5]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in sim.brute_force_topk(
            emb.filter(F.col("vec_id") < 3), emb, k=40, dim=4
        ).collect()
    }
    approx = sim.lsh_topk(
        emb.filter(F.col("vec_id") < 3), emb, k=5, n_planes=2, dim=4
    ).collect()
    for r in approx:
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cos"]


def test_lsh_multiprobe_recall_dominates_single_probe(spark):
    """Probing the nearest complementary bucket can only add candidates:
    per query, multi-probe must return at least as many rows as
    single-probe, every single-probe hit must score identically, and no
    multi-probe rank-i cosine may be worse than single-probe's rank-i."""
    emb = spark.createDataFrame(
        [
            (i, [float(i % 7) + 0.5, float((3 * i) % 5) - 2.0, 1.0, -0.5])
            for i in range(40)
        ],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") < 3)
    single = sim.lsh_topk(queries, emb, k=5, n_planes=3, dim=4).collect()
    multi = sim.lsh_topk(
        queries, emb, k=5, n_planes=3, n_probes=2, dim=4
    ).collect()
    s_by_q: dict[int, list] = {}
    m_by_q: dict[int, list] = {}
    for r in single:
        s_by_q.setdefault(r["query_id"], []).append(r)
    for r in multi:
        m_by_q.setdefault(r["query_id"], []).append(r)
    m_pairs = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in multi}
    for q, s_rows in s_by_q.items():
        m_rows = m_by_q.get(q, [])
        assert len(m_rows) >= len(s_rows)
        s_cos = sorted((r["cos"] for r in s_rows), reverse=True)
        m_cos = sorted((r["cos"] for r in m_rows), reverse=True)
        for i, sc in enumerate(s_cos):
            assert m_cos[i] >= sc
    # single-probe candidates that survive into multi-probe's top-k keep
    # their exact score (same _pair_cos arithmetic)
    for r in single:
        key = (r["query_id"], r["neighbor_id"])
        if key in m_pairs:
            assert m_pairs[key] == r["cos"]


def test_arrow_matrix_reads_only_the_arrays_own_rows():
    """A sliced list array (offset != 0, how a batch slice arrives) and a
    ``take``n one convert to exactly np.stack of their own rows, and so
    does a chunked column."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(7)
    arr = pa.array(
        rng.standard_normal((10, 4)).astype("float32").tolist(),
        type=pa.list_(pa.float32()),
    )

    def stacked(a):
        return np.stack([np.asarray(v, dtype="float64") for v in a.to_pylist()])

    sliced = arr.slice(3, 5)
    assert sliced.offset == 3
    taken = arr.take(pa.array([7, 2, 2, 9]))
    chunked = pa.chunked_array([arr.slice(0, 4), arr.slice(4)])
    for a in (sliced, taken, chunked):
        mat = sim.arrow_matrix(a, 4)
        assert mat.dtype == np.float64
        np.testing.assert_array_equal(mat, stacked(a))
    np.testing.assert_array_equal(sim.arrow_matrix(sliced), stacked(sliced))


def test_gemm_pairwise_matches_expression_cosine(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.01, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector scores 0 everywhere
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in sim.pairwise_cosine_gemm(emb, threshold=0.9, round_to=4).collect()
    }
    assert set(out) == {(0, 1)}
    assert out[(0, 1)] == 1.0  # cos rounds to 1.0 at 4dp


def test_bpe_token_count_counts_punct_and_digit_runs(spark):
    from financial_data_engineering_spark.functions.text import bpe_token_count

    df = spark.createDataFrame([(1, "ab, cd9 e-f!"), (2, "")], "id int, t string")
    got = {r["id"]: r["n"] for r in
           df.select("id", bpe_token_count(F.col("t")).alias("n")).collect()}
    assert got == {1: 8, 2: 0}


def test_winnowing_shares_fingerprints_on_shared_runs(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    shifted = "zzz " + base  # same long run, shifted positions
    df = _docs(spark, [(1, base), (2, shifted), (3, "totally different words here now ok")])
    fps = dd.winnow_fingerprints(df, "doc_id", "text").collect()
    sets = {}
    for r in fps:
        sets.setdefault(r["id"], set()).add(r["fp"])
    # winnowing guarantee: docs sharing a run >= window+n-1 tokens share fps
    assert sets[1] & sets[2]
    assert not (sets[1] & sets[3])


def test_ivf_topk_scores_match_brute_force(spark):
    emb = spark.createDataFrame(
        [(i, [float((i * 3) % 7) + 0.5, float((5 * i) % 11) - 3.0, 2.0, -1.0])
         for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in sim.brute_force_topk(
            emb.filter(F.col("vec_id") < 2), emb, k=30, dim=4
        ).collect()
    }
    approx = sim.ivf_topk(
        emb.filter(F.col("vec_id") < 2), emb, k=5, n_centroids=4, nprobe=2, dim=4
    ).collect()
    assert approx  # probes returned candidates
    for r in approx:
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cos"]


def test_simhash_pairs_finds_identical_docs_with_zero_hamming(spark):
    df = _docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "completely different text with other words"),
    ])
    pairs = dd.simhash_near_dup_pairs(df, max_hamming=3).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]


def test_quantization_stats_hand_computed(spark):
    from financial_data_engineering_spark import plans
    from financial_data_engineering_spark.llm.quantize import quantization_stats

    emb = spark.createDataFrame(
        [(1, [0.0, 1.0, 0.5]), (2, [2.5, 2.5])],
        "vec_id long, embedding array<float>",
    )
    df = quantization_stats(emb)
    rows = {r["vec_id"]: r for r in df.collect()}
    # codes: 0, 255, floor(0.5*255 + 0.5) = 128
    assert rows[1]["code_sum"] == 0 + 255 + 128
    # only the 0.5 element reconstructs inexactly: |0.5 - 128/255|*1e6
    # -> floor(1960.78 + 0.5) = 1961; half-up mean over 3 = 654
    assert rows[1]["mean_err_e6"] == 654
    # constant vector: all-zero codes, exact reconstruction
    assert rows[2]["code_sum"] == 0
    assert rows[2]["mean_err_e6"] == 0
    # one exchange for the per-vector window; the rollup reuses it
    assert plans.shuffle_count(df) <= 1


def test_connected_components_transitive_closure(spark):
    """A~B and B~C must land in one group even though A~C was never an
    edge; disjoint pairs stay separate; labels are the component min."""
    edges = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12), (20, 21), (30, 7), (7, 2)],
        "doc_a long, doc_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in dd.connected_components(edges).collect()
    }
    assert got == {
        1: 1, 5: 1, 9: 1, 12: 1,   # chain collapses transitively
        20: 20, 21: 20,            # disjoint pair keeps its own min
        2: 2, 7: 2, 30: 2,         # min id wins even off the path ends
    }

def test_contamination_pairs_hand_computed(spark):
    """Planted overlap: train doc 10 embeds a 6-token run of eval doc 1
    (two distinct 5-grams); train doc 11 shares nothing. permille is exact
    integer arithmetic."""
    eval_df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )  # 8 tokens -> 4 distinct 5-grams
    train = spark.createDataFrame(
        [
            (10, "x y alpha beta gamma delta epsilon zeta w v u t"),
            (11, "completely different words with no shared runs here"),
        ],
        "doc_id long, text string",
    )
    got = dd.contamination_pairs(
        train, eval_df, "doc_id", "text", n=5, min_shared=2
    ).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.train_id, row.eval_id) == (10, 1)
    # shared 5-grams: "alpha beta gamma delta epsilon", "beta gamma delta epsilon zeta"
    assert row.n_shared == 2 and row.eval_sz == 4
    assert row.permille == 500


def test_contamination_min_shared_filters(spark):
    """min_shared=3 must drop the 2-shingle overlap from the previous test."""
    eval_df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(10, "x y alpha beta gamma delta epsilon zeta w v u t")],
        "doc_id long, text string",
    )
    assert (
        dd.contamination_pairs(
            train, eval_df, "doc_id", "text", n=5, min_shared=3
        ).count()
        == 0
    )


def test_ngram_prefix_filter_matches_plain_exact(spark):
    """Prefix-filtered set-similarity join (AllPairs/PPJoin) must produce
    EXACTLY the unfiltered plan's pairs — the filter is a lossless
    candidate prune, on real corpus data and on a crafted frame with a
    hot shingle shared by every doc."""
    from financial_data_engineering_spark.tables import load

    docs = load(spark, "documents", "/root/testdata/sf0.001")
    plain = sorted(
        map(tuple, dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect())
    )
    pref = sorted(
        map(tuple, dd.ngram_jaccard_pairs_prefix(docs, "doc_id", "text", n=3, threshold=0.3).collect())
    )
    assert plain == pref and len(plain) > 0

    crafted = spark.createDataFrame(
        [
            (1, "the common tail alpha beta gamma delta"),
            (2, "the common tail alpha beta gamma epsilon"),
            (3, "the common tail zeta eta theta iota"),
            (4, "unrelated words entirely different from others here"),
        ],
        "doc_id long, text string",
    )
    for t in (0.2, 0.5, 0.8):
        a = sorted(map(tuple, dd.ngram_jaccard_pairs(crafted, "doc_id", "text", n=3, threshold=t).collect()))
        b = sorted(map(tuple, dd.ngram_jaccard_pairs_prefix(crafted, "doc_id", "text", n=3, threshold=t).collect()))
        assert a == b, f"threshold {t} diverged"


def test_incremental_exact_dedup_two_batches(spark, tmp_path):
    """Registry round-trip: batch 2 must drop docs whose content arrived
    in batch 1 (even under different ids), dedupe within itself, and
    admit genuinely new content. The registry survives a parquet
    round-trip between runs."""
    from financial_data_engineering_spark.llm.dedup import (
        incremental_exact_dedup,
    )

    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon")],
        "doc_id long, text string",
    )
    uniq1, reg1 = incremental_exact_dedup(b1, None)
    assert sorted(r.doc_id for r in uniq1.collect()) == [1, 3]
    reg_path = str(tmp_path / "registry")
    reg1.write.mode("overwrite").parquet(reg_path)

    b2 = spark.createDataFrame(
        [
            (10, "ALPHA   beta gamma"),   # batch-1 content, normalized dup
            (11, "zeta eta theta"),        # new
            (12, "zeta eta theta"),        # in-batch dup of 11
        ],
        "doc_id long, text string",
    )
    reg = spark.read.parquet(reg_path)
    uniq2, reg2 = incremental_exact_dedup(b2, reg)
    assert sorted(r.doc_id for r in uniq2.collect()) == [11]
    # updated registry holds all three distinct fingerprints
    assert reg2.distinct().count() == 3


def test_write_compacted_parquet_bounds_file_count(spark, tmp_path):
    import glob

    from financial_data_engineering_spark.transform.export import (
        write_compacted_parquet,
    )

    df = spark.range(0, 10_000).repartition(32)
    out = str(tmp_path / "compact")
    n = write_compacted_parquet(df, out, target_rows_per_file=4_000)
    assert n == 3
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 3
    got = spark.read.parquet(out)
    assert got.count() == 10_000


def test_release_intermediates_leaves_no_persistent_rdds(spark):
    """Operators persist internal intermediates (inverted index, banded
    signatures); after materializing results and calling
    release_intermediates(), no NEW cached blocks may remain — a library
    session running many dedup passes must not accumulate storage. The
    check is delta-based because a shared test session may hold unrelated
    localCheckpoint RDDs from earlier tests."""
    from financial_data_engineering_spark.llm.caching import (
        release_intermediates,
    )

    def persistent_ids():
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    release_intermediates(blocking=True)  # drain leftovers from other tests
    before = persistent_ids()
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "entirely different words live here today"),
            (4, "entirely different words live here today"),
        ],
    )
    dd.minhash_near_dup_pairs(docs, n=2, k=8, bands=4).collect()
    dd.ngram_jaccard_pairs(docs, n=2).collect()
    dd.simhash_near_dup_pairs(docs).collect()
    assert persistent_ids() - before  # the run did persist intermediates
    released = release_intermediates(blocking=True)
    assert released >= 4  # minhash persists 2, ngram 1, simhash 2
    assert persistent_ids() <= before


def test_minhash_registry_matches_finds_cross_batch_near_dup(spark):
    """A batch document that is a near-copy of a registry document must
    report that registry doc as best_match; unrelated docs must not match.
    Batch-internal duplicates are NOT the registry screen's concern."""
    registry = _docs(
        spark,
        [
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (4, "completely unrelated registry content about other things"),
        ],
    )
    batch = _docs(
        spark,
        [
            # near-copy of 2 (one word appended)
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
            (3, "no overlap with anything in the registry at all whatsoever"),
        ],
    )
    got = {
        r["doc_id"]: (r["best_match"], r["jaccard_e4"])
        for r in dd.minhash_registry_matches(
            batch, registry, n=2, k=8, bands=4, threshold=0.5
        ).collect()
    }
    assert set(got) == {1}
    assert got[1][0] == 2
    assert got[1][1] >= 5000


def test_content_split_is_deterministic_and_leakage_safe(spark):
    """Identical content must get the identical split label regardless of
    doc id; fractions must be respected in aggregate over many docs."""
    df = spark.createDataFrame(
        [(i, f"document number {i} body") for i in range(400)]
        + [(1000, "document number 7 body"), (2000, "Document  number 7 body")],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id", tx.content_split(F.col("text")).alias("split")
    ).collect()
    by_id = {r["doc_id"]: r["split"] for r in out}
    # exact dup and normalized dup of doc 7 share its split
    assert by_id[1000] == by_id[7] == by_id[2000]
    counts = {}
    for r in out:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    # 80/10/10 within loose tolerance on ~400 distinct contents
    assert counts["train"] > counts.get("val", 0)
    assert counts["train"] > counts.get("test", 0)
    assert set(counts) == {"train", "val", "test"}


def test_kmv_intersection_exact_when_sketch_not_full(spark):
    """With fewer distinct keys than k, the union sketch holds every hash,
    so the 'estimates' must be the exact intersection/union counts."""
    from financial_data_engineering_spark.operators.sketch import (
        kmv_intersection,
    )

    df = spark.createDataFrame(
        [("A", i) for i in range(20)] + [("B", i) for i in range(10, 40)],
        "grp string, key long",
    )
    row = kmv_intersection(df, "grp", "key", "A", "B", k=256).collect()[0]
    # |A|=20, |B|=30, |A∩B|=10, |A∪B|=40
    assert row["inter_sketch_keys"] == 10
    assert row["union_estimate"] == 40
    assert row["inter_estimate"] == 10
    assert row["jaccard_e4"] == 2500  # 10/40


def _executed_scans(df, location_substr: str) -> list[tuple[str, int]]:
    """(partition filters, "number of partitions read") of every executed
    file scan whose root path contains ``location_substr``, walking the
    final adaptive plan through its query stages."""
    found = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "FileSourceScanExec" and location_substr in str(
            node.relation().location().rootPaths()
        ):
            read = node.metrics().get("numPartitions").get().value()
            found.append((str(node.partitionFilters()), int(read)))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_ivf_index_roundtrip_matches_direct(spark, tmp_path):
    """Persisted-index serving must return exactly what the one-shot
    ivf_topk computes (same centroid seed, scoring, and tie-breaks),
    submit no Spark job before the caller's action, and read fewer list
    partitions than the index has."""
    from financial_data_engineering_spark.llm.index import (
        build_ivf_index,
        ivf_topk_from_index,
    )
    from financial_data_engineering_spark.llm.similarity import ivf_topk
    from financial_data_engineering_spark.tables import load
    from tests.conftest import SF_SMALL, count_jobs

    emb = load(spark, "embeddings", SF_SMALL)
    queries = emb.filter(F.col("vec_id") < 2)
    idx = str(tmp_path / "ivf_index")
    build_ivf_index(emb, idx, n_centroids=8, n_iters=2, dim=64)

    with count_jobs(spark) as jobs:
        served = ivf_topk_from_index(
            spark, queries, idx, k=5, nprobe=2, dim=64
        )
    assert jobs.n == 0
    direct = ivf_topk(
        queries, emb, k=5, n_centroids=8, nprobe=2, dim=64, n_iters=2
    )
    cols = ["query_id", "rank", "neighbor_id", "cos"]
    got = sorted(tuple(r[c] for c in cols) for r in served.collect())
    want = sorted(tuple(r[c] for c in cols) for r in direct.collect())
    assert got == want

    # partition pruning of the SERVED frame: the broadcast probes prune
    # the lists scan by cluster at run time (dynamic partition pruning),
    # so the executed scan reads fewer cluster directories than exist
    [(filters, read)] = _executed_scans(served, "ivf_index/lists")
    assert "dynamicpruningexpression(cluster#" in filters, filters
    assert 0 < read < 8
    # the same holds for a query set built on the driver, which carries
    # no filter of its own for the pruning rule to see
    local_queries = spark.createDataFrame(queries.collect(), queries.schema)
    served_local = ivf_topk_from_index(
        spark, local_queries, idx, k=5, nprobe=2, dim=64
    )
    assert sorted(
        tuple(r[c] for c in cols) for r in served_local.collect()
    ) == want
    [(_, read_local)] = _executed_scans(served_local, "ivf_index/lists")
    assert 0 < read_local < 8


def test_ivf_pairs_unique_before_rank_window(spark, tmp_path):
    """Both IVF paths score each (query_id, neighbor_id) pair once with no
    dedupe: a corpus vector sits in exactly one inverted list and a
    query's nprobe probes are distinct lists. ``k`` covers the corpus, so
    the rank filter keeps every scored pair and a pair scored twice would
    come back as two rows."""
    from financial_data_engineering_spark.llm.index import (
        build_ivf_index,
        ivf_topk_from_index,
    )
    from financial_data_engineering_spark.tables import load
    from tests.conftest import SF_SMALL

    emb = load(spark, "embeddings", SF_SMALL)
    queries = emb.filter(F.col("vec_id") < 5)
    n = emb.count()
    idx = str(tmp_path / "ivf_index")
    build_ivf_index(emb, idx, n_centroids=8, n_iters=2, dim=64)
    for out in (
        sim.ivf_topk(queries, emb, k=n, n_centroids=8, nprobe=3, dim=64),
        ivf_topk_from_index(spark, queries, idx, k=n, nprobe=3, dim=64),
    ):
        pairs = [(r["query_id"], r["neighbor_id"]) for r in out.collect()]
        assert {qid for qid, _ in pairs} == set(range(5))
        assert len(pairs) == len(set(pairs))


def test_ann_serving_job_ceilings(spark):
    """Noop writes of the ANN queries whose serving plans broadcast one
    query-side frame submit at most these many Spark jobs at sf0.001.
    ann_ivf_from_index: three training collects, the lists write (its
    repartition's shuffle map and the write), the probe broadcast, the
    rank window's shuffle map and the presentation sort's two.
    ann_ivfpq_rerank and ann_pq_rerank: three training collects, ONE
    query-side broadcast (vector and ADC lookup table, with the probed
    lists in IVF-PQ), the pool window's shuffle map and the rerank, rank
    and sort stages. A reintroduced pair dedupe, a second query-side
    broadcast or a separate code table breaks the ceiling."""
    from financial_data_engineering_spark import queries as q
    from financial_data_engineering_spark.llm.caching import (
        release_intermediates,
    )
    from tests.conftest import SF_SMALL, count_jobs

    for name, ceiling in (
        ("ann_ivf_from_index", 10),
        ("ann_ivfpq_rerank", 9),
        ("ann_pq_rerank", 9),
    ):
        release_intermediates()
        with count_jobs(spark) as jobs:
            q.all_queries()[name](spark, SF_SMALL).write.format("noop").mode(
                "overwrite"
            ).save()
        assert jobs.n <= ceiling, (name, jobs.n)
    release_intermediates()


def test_ivf_from_index_dir_removed_at_exit_once(spark, monkeypatch):
    """ann_ivf_from_index keeps one index directory per application and
    registers its removal at driver exit exactly once, however often the
    query runs. Build and serve are stubbed: only the path bookkeeping
    is under test."""
    import atexit
    import shutil

    from financial_data_engineering_spark.llm import index
    from financial_data_engineering_spark.queries import similarity as qsim
    from tests.conftest import SF_SMALL

    built, registered = [], []
    monkeypatch.setattr(qsim, "_INDEX_DIRS", set())
    monkeypatch.setattr(
        atexit, "register", lambda *a, **kw: registered.append((a, kw))
    )
    monkeypatch.setattr(
        index, "build_ivf_index", lambda emb, path, **kw: built.append(path)
    )
    monkeypatch.setattr(
        index,
        "ivf_topk_from_index",
        lambda spark, queries, path, **kw: spark.createDataFrame(
            [], "query_id long, rank long"
        ),
    )
    qsim.ann_ivf_from_index(spark, SF_SMALL)
    qsim.ann_ivf_from_index(spark, SF_SMALL)
    assert built[0] == built[1]
    assert spark.sparkContext.applicationId in built[0]
    assert registered == [((shutil.rmtree, built[0]), {"ignore_errors": True})]


# -- Product quantization (llm/pq.py) ----------------------------------------


def _pq_corpus(spark, n=40, dim=8):
    # deterministic spread-out vectors; dim divisible by the subspace knobs
    return spark.createDataFrame(
        [
            (
                i,
                [
                    float((i * (j + 3) + 7 * j) % 13) - 6.0
                    for j in range(dim)
                ],
            )
            for i in range(n)
        ],
        "vec_id long, embedding array<float>",
    )


def test_pq_codebooks_deterministic_and_shaped(spark):
    from financial_data_engineering_spark.llm import pq

    emb = _pq_corpus(spark)
    b1 = pq.pq_codebooks(emb, m=2, k=4, n_iters=2, dim=8)
    b2 = pq.pq_codebooks(emb, m=2, k=4, n_iters=2, dim=8)
    assert b1 == b2  # seeded Lloyd: bit-identical across runs
    assert len(b1) == 2 and all(len(book) == 4 for book in b1)
    assert all(len(cv) == 4 for book in b1 for cv in book)


def test_pq_codes_cover_corpus_in_range(spark):
    from financial_data_engineering_spark.llm import pq

    emb = _pq_corpus(spark)
    books = pq.pq_codebooks(emb, m=4, k=4, n_iters=1, dim=8)
    rows = pq.pq_codes(emb, books, dim=8).collect()
    # one row per vector holding one code per subspace; every code
    # addresses its book
    assert sorted(r["vec_id"] for r in rows) == list(range(40))
    assert all(len(r["codes"]) == 4 for r in rows)
    assert all(0 <= c < 4 for r in rows for c in r["codes"])


def test_pq_rerank_cosines_match_brute_force_scorer(spark):
    from financial_data_engineering_spark.llm import pq

    emb = _pq_corpus(spark)
    queries = emb.filter(F.col("vec_id") < 2)
    out = pq.pq_adc_rerank_topk(
        queries, emb, k=5, pool=10, m=2, n_codes=4, n_iters=2, dim=8
    ).collect()
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in sim.brute_force_topk(queries, emb, k=40, dim=8).collect()
    }
    assert len(out) == 10  # k rows per query
    for r in out:
        # stage-2 rerank scores are byte-identical to the exact scorer
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cos"]
    for qid in (0, 1):
        ranks = sorted(r["rank"] for r in out if r["query_id"] == qid)
        assert ranks == [1, 2, 3, 4, 5]


def test_pq_adc_orders_by_integer_score(spark):
    from financial_data_engineering_spark.llm import pq

    emb = _pq_corpus(spark)
    queries = emb.filter(F.col("vec_id") < 1)
    out = pq.pq_adc_rerank_topk(
        queries, emb, k=40, pool=40, m=2, n_codes=4, n_iters=1, dim=8
    ).collect()
    # adc_e6 is an exact integer on every row (no float leaks into stage 1)
    assert all(isinstance(r["adc_e6"], int) for r in out)
    # the pool covers the whole corpus here, so the rerank must recover
    # the exact brute-force ranking bit-for-bit
    want = [
        (r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
        for r in sim.brute_force_topk(queries, emb, k=40, dim=8).collect()
    ]
    got = [
        (r["query_id"], r["rank"], r["neighbor_id"], r["cos"]) for r in out
    ]
    assert sorted(got) == sorted(want)


def test_ivfpq_rerank_scores_match_brute_force(spark):
    from financial_data_engineering_spark.llm import pq

    emb = _pq_corpus(spark)
    queries = emb.filter(F.col("vec_id") < 2)
    out = pq.ivfpq_adc_rerank_topk(
        queries, emb, k=5, pool=10, m=2, n_codes=4, n_iters=1,
        dim=8, n_centroids=4, nprobe=2, coarse_iters=1,
    ).collect()
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in sim.brute_force_topk(queries, emb, k=40, dim=8).collect()
    }
    assert out  # probed lists produced candidates
    for r in out:
        # candidates only come from probed lists; scores stay exact
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cos"]
        assert isinstance(r["adc_e6"], int)
    for qid in (0, 1):
        ranks = sorted(r["rank"] for r in out if r["query_id"] == qid)
        assert ranks == list(range(1, len(ranks) + 1))



def test_ivfpq_corpus_smaller_than_code_count_matches_flat_pq(spark):
    """A corpus of fewer vectors than ``n_codes`` trains books of
    |corpus| centroids, and the lookup table's stride is that size, not
    the requested one. With every inverted list probed, IVF-PQ scores
    the same candidates as flat PQ from bit-identical codebooks (the
    joint training), so the two cascades return the same rows."""
    from financial_data_engineering_spark.llm import pq

    emb = _pq_corpus(spark, n=10)
    queries = emb.filter(F.col("vec_id") < 3)
    knobs = dict(k=3, pool=4, m=2, n_codes=16, n_iters=1, dim=8)
    flat = pq.pq_adc_rerank_topk(queries, emb, **knobs).collect()
    ivf = pq.ivfpq_adc_rerank_topk(
        queries, emb, n_centroids=2, nprobe=2, coarse_iters=1, **knobs
    ).collect()
    assert len(flat) == 9
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, flat))

def test_bigram_lm_quality_tolerates_empty_documents(spark, tmp_path):
    """Docs whose text tokenizes to zero or one token must contribute
    no bigrams rather than crash Spark's slice with a negative length
    (r9 ADVICE: DuckDB's list slicing is graceful, Spark's errors)."""
    import pandas as pd

    from financial_data_engineering_spark.queries import text as qtext

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["", "   ", "one", "alpha beta alpha"],
            "lang": ["en"] * 4,
            "source": ["s1", "s1", "s2", "s2"],
            "n_chars": [0, 3, 3, 16],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    rows = {
        r["source"]: r
        for r in qtext.source_bigram_lm_quality(
            spark, str(tmp_path)
        ).collect()
    }
    assert "s1" not in rows  # no bigrams at all from empty/whitespace
    assert rows["s2"]["n_bigrams"] == 2


def test_connected_components_path_graph_logarithmic_rounds(spark):
    """A 65-node path is the adversarial input for the old min-label
    kernel (O(diameter) = 64 rounds, silently truncated at 20); the
    large-star/small-star kernel must converge in O(log n) rounds and
    label every node with the path minimum."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in dd.connected_components(edges).collect()
    }
    assert got == {i: 0 for i in range(65)}
    assert dd.connected_components._last_rounds <= 7


def test_connected_components_random_graph_matches_dsu_reference(spark):
    """Deterministic pseudo-random graph vs a pure-Python union-find."""
    import hashlib

    n, m = 200, 150
    pairs = []
    for i in range(m):
        h = hashlib.md5(f"cc-{i}".encode()).hexdigest()
        pairs.append((int(h[:8], 16) % n, int(h[8:16], 16) % n))

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    touched = set()
    for a, b in pairs:
        touched.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {x: find(x) for x in sorted(touched)}
    # union-find roots are not necessarily component minima; normalize
    comp_min = {}
    for x, r in expect.items():
        comp_min[r] = min(comp_min.get(r, x), x)
    expect = {x: comp_min[r] for x, r in expect.items()}

    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["node"]: r["component"]
        for r in dd.connected_components(edges).collect()
    }
    assert got == expect


def test_fused_training_matches_standalone(spark):
    """lloyd_train with the coarse quantizer and the PQ quantizers together
    (the joint training behind ivfpq_adc_rerank_topk) must return
    BIT-identical centroids and codebooks to kmeans_centroids and
    pq_codebooks run alone — joint training only co-schedules the passes,
    never changes the arithmetic. The second case stops the coarse
    quantizer before the codebooks, so quantizers that finish early drop
    out of the shared pass without disturbing the rest."""
    from financial_data_engineering_spark.llm.pq import (
        pq_codebooks,
        pq_quantizers,
    )

    emb = (
        spark.range(60)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 15), j -> cast("
                "sin(id * 13 + j * 7) as float))"
            ).alias("embedding"),
        )
    )
    for coarse_iters, n_iters in ((2, 2), (1, 3)):
        cents_ref = sim.kmeans_centroids(
            emb, n_centroids=4, n_iters=coarse_iters, dim=16
        )
        books_ref = pq_codebooks(emb, m=4, k=6, n_iters=n_iters, dim=16)
        cents, *books = sim.lloyd_train(
            emb,
            [
                sim.coarse_quantizer(16, 4, coarse_iters),
                *pq_quantizers(16, 4, 6, n_iters),
            ],
        )
        assert list(enumerate(cents)) == cents_ref
        assert books == books_ref
