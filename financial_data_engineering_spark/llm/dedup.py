"""Deduplication operators for LLM-training-data pipelines.

Four families, all expressed as DataFrame plans (no Python in the hot path):

- **exact**: whitespace-normalized MD5 fingerprint → groupBy survivor pick.
- **MinHash + LSH**: word-shingle → k MD5-minhashes → banded bucket keys →
  bucket self-join → exact-Jaccard verification. The scale path: candidate
  generation is a shuffle on band keys (uniform 128-bit values, no skew),
  never an all-pairs product.
- **n-gram Jaccard**: exact all-pairs similarity via an inverted shingle
  index (join on shingle, count co-occurrences) — no cross join; the
  baseline the LSH variant is validated against.
- **SimHash**: 64-bit sign-of-weighted-sum fingerprint.

Everything is deterministic (MD5-derived hash families, no RNG) so a SQL
oracle can replay the identical pipeline.

A structural rule learned the hard way, applied throughout: shingling and
per-token hashing are built RELATIONALLY (posexplode + window/groupBy), not
with nested array lambdas. Spark's higher-order functions are
CodegenFallback (interpreted, per-call allocation), and each `element_at`
inside a lambda re-evaluates its child expression — a token array referenced
from a lambda re-runs the regex split per element, turning an O(tokens) row
into O(tokens²) interpreted work, multiplied again wherever the optimizer's
CollapseProject inlines the projection. The relational forms keep every hash
and comparison inside whole-stage codegen and scale by shuffle, not by
expression-tree depth.

Design notes for 100 TB:
- MinHash signatures are one exploded pass + one groupBy(id) with map-side
  partial min aggregation; the only other shuffles are the band-bucket join
  and candidate verification, all on uniformly distributed keys.
- The inverted-index Jaccard join is quadratic in per-shingle document
  frequency; at scale, pair it with a stopword-shingle cut
  (``max_doc_freq``) exactly as web-dedup pipelines do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from financial_data_engineering_spark.llm.caching import persist_tracked
from financial_data_engineering_spark.partitioning import (
    materialize,
    materialize_counted,
    spread_by,
)

# The shingle index tokenizes through the repo-wide contract so MinHash/
# Jaccard/SimHash candidates compose with span/repetition/vocab counts.
from financial_data_engineering_spark.functions.text import tokens  # noqa: F401

HEX = "0123456789abcdef"


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word ``n``-gram shingles as an array Column; empty array when
    fewer than n tokens (Spark's ``sequence`` would otherwise count down).

    Expression-level convenience for small/interactive use. Pipelines should
    prefer :func:`shingle_rows` — this form re-evaluates the tokenizer per
    element inside the lambda (see module docstring)."""
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (id, g) shingle rows — the inverted index every fuzzy-dedup
    pass consumes. Relational construction: tokenize once, ``posexplode`` to
    (id, pos, tok), assemble n-grams with ``lead()`` over a per-doc window.
    One split per document, every downstream op codegen'd; the window
    shuffle partitions by doc id so it parallelizes across documents.

    The doc rows repartition by id BEFORE the posexplode: a compressed
    text corpus file is small (repeated text compresses away), so the
    scan can yield one input partition — and without the spread, the
    |tokens|-row explosion runs in a single task (measured 8-9x on the
    sf1 replica's text queries). The repartition hashes on the same key
    and partition count the window requires, so the window's own
    exchange is elided — net added shuffles: zero; what moves is WHERE
    the explosion happens (after distribution, not before)."""
    tok_rows = spread_by(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    return (
        tok_rows.withColumn("nxt", parts[-1])
        .withColumn("g", F.concat_ws(" ", *parts))
        .filter(F.col("nxt").isNotNull())
        .select("id", "g")
        .distinct()
    )


# Prime just above 2^32 for the affine MinHash family h_i = (a + i·b) mod P.
MINHASH_P = 4294967311


def hash_words(col: Column) -> tuple[Column, Column]:
    """One md5 digest -> the (a, b) 32-bit words of the affine family."""
    hh = F.md5(col)
    a = F.conv(F.substring(hh, 1, 8), 16, 10).cast("long")
    b = F.conv(F.substring(hh, 9, 8), 16, 10).cast("long")
    return a, b


def affine_hash(a: Column, b: Column, i: int) -> Column:
    """Member i of the affine family: (a + i·b) mod P."""
    return (a + F.lit(i) * b) % F.lit(MINHASH_P)


def affine_slot(a: Column, b: Column, i: int, size: int) -> Column:
    """Slot of hash i in a table of ``size`` (a Bloom bit, a Count-Min
    column): ((a + (i+1)·b) mod P) mod size. (i+1), not i, so slot 0 is
    not just ``a mod size`` for every item — h_0 stays a full member of
    the 2-universal family."""
    return affine_hash(a, b, i + 1) % F.lit(size)


def minhash_signatures(
    inv: DataFrame, id_col: str = "id", shingle_col: str = "g", k: int = 16
) -> DataFrame:
    """(id, m0..m{k-1}) MinHash signature table from (id, shingle) rows.

    Affine hash family over ONE md5 per shingle: split md5(g) into two
    32-bit words a, b and take ``h_i = (a + i·b) mod P`` (P prime > 2^32) —
    the classic 2-universal construction. One digest plus k integer
    multiply-adds per row replaces k full digests (k=16 md5s per shingle
    row was the measured hot spot of the LSH pass). All k minima come from
    ONE groupBy(id) pass with map-side partial aggregation, every h_i a
    flat codegen'd long expression."""
    a, b = hash_words(F.col(shingle_col))
    pre = inv.select(
        F.col(id_col).alias("id"), a.alias("ha"), b.alias("hb")
    )
    aggs = [
        F.min(affine_hash(F.col("ha"), F.col("hb"), i)).alias(f"m{i}")
        for i in range(k)
    ]
    return pre.groupBy("id").agg(*aggs)


def lsh_band_keys(sig_df: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band, key) bucket rows from a signature table: band b hashes
    signature entries [b*rows, (b+1)*rows). Two docs are candidates iff any
    (band, key) collides. Flat md5-of-concat expressions over the signature
    columns — no array ops — then a tiny posexplode to rows."""
    keys = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"m{b * rows + r}") for r in range(rows)]))
            for b in range(bands)
        ]
    )
    return sig_df.select("id", F.posexplode(keys).alias("band", "key"))


def _pair_jaccard(
    pairs: DataFrame, inv: DataFrame, threshold: float
) -> DataFrame:
    """Verify (doc_a, doc_b) pairs with exact Jaccard from the inverted
    index: co-occurrence join restricted to the pairs → |A∩B|;
    |A∪B| = |A|+|B|-|A∩B| from per-doc shingle counts. Pairs sharing no
    shingle have Jaccard 0 and drop out with the inner join.

    ``jaccard_e4`` is the exact half-up integer rendering of
    round(|∩|/|∪|, 4) — ``(2·i·10⁴ + u) div (2·u)`` — identical to the
    float path in exact arithmetic but immune to the last-ulp /
    half-boundary divergence float division can produce across engines;
    the threshold compares in the same integer domain."""
    sz = inv.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        pairs.join(inv.alias("ia"), F.col("doc_a") == F.col("ia.id"))
        .join(
            inv.alias("ib"),
            (F.col("doc_b") == F.col("ib.id")) & (F.col("ia.g") == F.col("ib.g")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sz.alias("za"), F.col("doc_a") == F.col("za.id"))
        .join(sz.alias("zb"), F.col("doc_b") == F.col("zb.id"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.col("za.sz").alias("sz_a"),
            F.col("zb.sz").alias("sz_b"),
        )
        .withColumn(
            "jaccard_e4",
            F.expr(
                "(2 * inter * 10000 + (sz_a + sz_b - inter))"
                " div (2 * (sz_a + sz_b - inter))"
            ),
        )
        .filter(F.col("jaccard_e4") >= int(round(threshold * 10000)))
        .select("doc_a", "doc_b", "jaccard_e4")
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    Plan shape: inverted shingle index → one groupBy builds all k signature
    minima → band keys fan out to (id, band, key) rows → self-join on
    (band, key) yields candidates (shuffle on uniform md5 keys) → exact
    Jaccard over the inverted index, restricted to candidates. With b bands
    of r rows the candidate probability is 1-(1-j^r)^b — steep around
    (1/b)^(1/r), so genuinely similar pairs survive and random pairs don't,
    keeping verification tiny relative to |docs|².

    Returns (doc_a, doc_b, jaccard_e4) with doc_a < doc_b and
    jaccard_e4 (half-up integer e4 Jaccard) ≥ round(threshold·10⁴).
    """
    rows = k // bands
    # The inverted index feeds the signature pass AND both sides of the
    # verification join; without persistence Spark re-runs the full
    # tokenize/window/distinct lineage once per consumer (4× at this fan-in).
    # MEMORY_AND_DISK so oversized corpora spill instead of OOMing.
    inv = persist_tracked(shingle_rows(docs, id_col, text_col, n))
    # Persisted too: both sides of the candidate self-join consume it, and
    # without persistence each side re-runs the whole signature pass.
    banded = persist_tracked(
        lsh_band_keys(minhash_signatures(inv, "id", "g", k), bands, rows)
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _pair_jaccard(cand, inv, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    threshold: float = 0.3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via an inverted shingle index.

    No cross join: each shared shingle contributes one co-occurrence row to
    the self-join; counting per pair gives |A∩B| and per-doc counts give the
    union. ``max_doc_freq`` drops shingles appearing in more than that many
    docs — the skew guard that keeps the join linear-ish at corpus scale (a
    stop-shingle shared by 1M docs would otherwise emit 10¹² rows).
    """
    inv = persist_tracked(shingle_rows(docs, id_col, text_col, n))
    if max_doc_freq is not None:
        # Broadcast the HOT shingles (few, by construction) and anti-join;
        # broadcasting the keep-list would ship nearly the whole vocabulary
        # to every executor.
        hot = (
            inv.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("g")
        )
        inv = inv.join(F.broadcast(hot), "g", "left_anti")
    sz = inv.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        inv.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.join(sz.alias("za"), F.col("doc_a") == F.col("za.id"))
        .join(sz.alias("zb"), F.col("doc_b") == F.col("zb.id"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.col("za.sz").alias("sz_a"),
            F.col("zb.sz").alias("sz_b"),
        )
        .withColumn(
            "jaccard_e4",
            F.expr(
                "(2 * inter * 10000 + (sz_a + sz_b - inter))"
                " div (2 * (sz_a + sz_b - inter))"
            ),
        )
        .filter(F.col("jaccard_e4") >= int(round(threshold * 10000)))
        .select("doc_a", "doc_b", "jaccard_e4")
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard with PREFIX FILTERING — the
    candidate-pruned plan from the set-similarity-join literature
    (Chaudhuri et al. SSJoin; Bayardo et al. AllPairs; Xiao et al.
    PPJoin), expressed relationally.

    Theorem (prefix filter): order every document's shingles by one
    global total order and keep only the first ``|x| − ⌈t·|x|⌉ + 1`` as
    its PREFIX; any pair with Jaccard ≥ t must collide on at least one
    prefix shingle. Candidates therefore come from a self-join of the
    (much smaller) prefix index, and the exact Jaccard verification runs
    only on candidates against the full index — same output as the
    unfiltered plan, provably.

    The global order is (document frequency ASC, shingle) — rarest
    first, the order that shrinks candidates hardest AND pushes
    stop-shingles out of every prefix, so the quadratic hot-shingle
    blowup the plain plan guards with ``max_doc_freq`` cannot happen in
    candidate generation at all; hot shingles only reappear in the
    verification join, already restricted to candidate pairs.

    Shuffles: df aggregate + df attach (uniform shingle keys), one
    per-doc rank window, the prefix self-join, and the verification —
    every key either a shingle hash or a doc id, no skew beyond what
    data frequency dictates.

    WHEN TO USE (measured): the pruning pays when documents are long
    (hundreds+ of shingles) and true matches are rare — there the plain
    plan's co-occurrence join is Σ df_g² while prefix candidates stay
    near-linear. On this benchmark's short documents (~50 shingles,
    df ≤ 3) the rank window costs more than it saves (11.4 s vs 3.7 s
    at sf0.1), so :func:`ngram_jaccard_pairs` remains the registered
    default; output equivalence is property-pinned in tests."""
    inv = persist_tracked(shingle_rows(docs, id_col, text_col, n))
    df_tbl = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g")
    ranked = (
        inv.join(df_tbl, "g")
        .withColumn("rank", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")).cast(
        "int"
    ) + 1
    pref = ranked.filter(F.col("rank") <= prefix_len).select("id", "g")
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _pair_jaccard(cand, inv, threshold)


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 5,
    min_shared: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Train/eval decontamination: every training document sharing at least
    ``min_shared`` distinct word ``n``-grams with a held-out evaluation
    document — the contamination-detection pass an LLM data pipeline runs
    before training (the published recipe: flag training docs with long
    n-gram collisions against benchmark/eval text).

    Plan shape: both sides build the same distinct (id, shingle) inverted
    index as the dedup passes; the join on the shingle key counts distinct
    shared n-grams per (train, eval) pair. At 100 TB the asymmetry is the
    design: eval suites are MB-scale while the corpus is the 100 TB side,
    so the eval index is BROADCAST (``broadcast_eval``) and the training
    index streams map-side through it — no shuffle of the corpus at all.
    Set ``broadcast_eval=False`` only for giant eval sets, which falls back
    to a shuffle join on uniform shingle keys.

    Output (all integers, engine-exact): ``train_id``, ``eval_id``,
    ``n_shared`` distinct shared n-grams, ``eval_sz`` distinct n-grams in
    the eval doc, and ``permille`` = n_shared·1000 div eval_sz — the
    contaminated fraction of the eval doc in exact integer permille."""
    tr = shingle_rows(train, id_col, text_col, n).select(
        F.col("id").alias("train_id"), "g"
    )
    ev = shingle_rows(eval_df, id_col, text_col, n).select(
        F.col("id").alias("eval_id"), "g"
    )
    ev_sz = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("eval_sz"))
    ev_join = F.broadcast(ev) if broadcast_eval else ev
    hits = (
        tr.join(ev_join, "g")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sz_join = F.broadcast(ev_sz) if broadcast_eval else ev_sz
    return hits.join(sz_join, "eval_id").select(
        "train_id",
        "eval_id",
        "n_shared",
        "eval_sz",
        F.expr("n_shared * 1000 div eval_sz").alias("permille"),
    )


def simhash64(col: Column) -> Column:
    """64-bit SimHash as a Column expression (64-char '0'/'1' string).

    Expression-level convenience for small/interactive use; pipelines should
    prefer :func:`simhash_rows` (relational, codegen'd — see module
    docstring). Per token: 64 bits from the first 16 hex chars of
    md5(token); per document: each bit accumulates +1/-1 per token
    occurrence, sign (≥ 0 → '1') gives the fingerprint."""
    hashes = F.transform(tokens(col), lambda t: F.substring(F.md5(t), 1, 16))

    def bit(h: Column, j: Column) -> Column:
        # (nibble >> (j%4)) & 1, written arithmetically: F.shiftright only
        # accepts a literal shift amount, not a per-element Column.
        shifted = (
            _nibble_val(h, j) / F.pow(F.lit(2.0), (j % 4).cast("double"))
        ).cast("int")
        return shifted % 2

    scores = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: bit(h, j) * 2 - 1,
            ),
            lambda x, y: x + y,
        ),
    )
    return F.array_join(
        F.transform(scores, lambda s: F.when(s >= 0, "1").otherwise("0")), ""
    )


def _nibble_val(h: Column, j: Column) -> Column:
    """Value 0-15 of hex digit (j div 4) of ``h`` (1-indexed substring)."""
    ch = F.substring(h, (j / 4).cast("int") + 1, 1)
    return F.conv(ch, 16, 10).cast("int")


def _simhash_packed_sums(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, n, s0..s15) per-document SimHash bit-vote state: explode tokens,
    compute the 16 hex nibbles of each token hash once, and sum packed
    per-nibble counters in ONE groupBy(id) pass (map-side partials).

    Packing: the 4 bits of hex nibble g go into 4 × 15-bit ones-counters
    inside one long (shifts 0/15/30/45): 16 packed sums + a count replace 64
    aggregate buffers, quartering both the generated-code size (64-buffer
    HashAggregates compile slowly and risk the method-size limit) and the
    aggregation state. 15-bit fields bound documents at 32767 tokens —
    chunk longer documents upstream. Sign rule: old per-bit score
    Σ(2b-1) = 2·ones − n ≥ 0  ⟺  2·ones ≥ n."""
    # Parse the 16 hex chars as two 32-bit halves (2 conv calls per token
    # instead of 16 conv(substring) pairs); nibble g then comes out with a
    # shift/mask, all integer codegen.
    # spread BEFORE the token explode (the shingle_rows lesson — module
    # docstring of partitioning.py): a compressed text corpus can scan
    # as one input partition, and without the spread the whole
    # tokenize + md5 + nibble-pack pipeline runs in a single task
    # (profiled at sf0.1: 1.5 s on one core while 31 idled). Hashing on
    # id at the shuffle-partition count is the same partitioning the
    # groupBy(id) below needs, so Catalyst elides that exchange — net
    # added shuffles zero.
    tok_rows = (
        spread_by(docs, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .select("id", F.md5("tok").alias("hh"))
        .select(
            "id",
            F.conv(F.substring("hh", 1, 8), 16, 10).cast("long").alias("w0"),
            F.conv(F.substring("hh", 9, 8), 16, 10).cast("long").alias("w1"),
        )
    )
    # Rendered as one SQL string per packed counter (a single F.expr call
    # each) rather than composing ~200 Column nodes through py4j — one JVM
    # round trip per node was costing more driver time than the query's
    # executors spent. The parsed trees are identical integer arithmetic.
    packed = []
    for g in range(16):
        word, pos = ("w0", g) if g < 8 else ("w1", g - 8)
        nib = f"(shiftright({word}, {28 - 4 * pos}) & 15)"
        lanes = " + ".join(
            f"((shiftright({nib}, {q}) & 1) * {1 << (15 * q)})" for q in range(4)
        )
        packed.append(F.expr(lanes).alias(f"p{g}"))
    return tok_rows.select("id", *packed).groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"p{g}").alias(f"s{g}") for g in range(16)],
    )


def _simhash_bit_sql(sums_bit_index: int) -> str:
    """SQL for sign bit j (0 = leftmost/MSB) from the packed sums frame:
    1 iff 2·ones ≥ n."""
    g, q = sums_bit_index // 4, sums_bit_index % 4
    return (
        f"CAST(CASE WHEN ((shiftright(s{g}, {15 * q}) & 32767) * 2) >= n "
        f"THEN 1 ELSE 0 END AS BIGINT)"
    )


def simhash_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — identical semantics to :func:`simhash64`, built
    relationally (see :func:`_simhash_packed_sums`) and rendered as the
    64-char sign bitstring. Everything whole-stage codegen."""
    halves = simhash_fp_halves(docs, id_col, text_col)
    return halves.select(
        "id",
        F.concat(
            F.lpad(F.conv(F.col("hi"), 10, 2), 32, "0"),
            F.lpad(F.conv(F.col("lo"), 10, 2), 32, "0"),
        ).alias("simhash"),
    )


def simhash_fp_halves(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, hi, lo) — the 64-bit SimHash packed into two 32-bit longs:
    bitstring positions 1-32 become ``hi`` (position 1 = bit 31, MSB-first)
    and positions 33-64 become ``lo``. Two halves instead of one long keep
    every shift below the sign bit, so the identical construction is
    expressible in engines that error on signed-overflow shifts; hamming
    distance is ``bit_count(hi⊕hi') + bit_count(lo⊕lo')`` — two codegen'd
    POPCNT instructions instead of 64 per-character substring compares."""
    sums = _simhash_packed_sums(docs, id_col, text_col)
    # One SQL string per half (see _simhash_packed_sums note): 32 sign-bit
    # terms each, identical left-associative integer sums to the previous
    # Column-composed form.
    hi = " + ".join(
        f"({_simhash_bit_sql(j)} * {1 << (31 - j)})" for j in range(32)
    )
    lo = " + ".join(
        f"({_simhash_bit_sql(j)} * {1 << (63 - j)})" for j in range(32, 64)
    )
    return sums.select("id", F.expr(hi).alias("hi"), F.expr(lo).alias("lo"))


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    *,
    max_iters: int = 25,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate GROUPS: connected
    components of the pair graph — the step between candidate pairs and
    survivor selection that a real dedup pipeline needs (A~B and B~C
    must collapse to one group even when A~C was never emitted).

    Kernel: alternating **large-star / small-star** (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014 — a
    public algorithm). Each round rewrites the edge set itself instead
    of propagating labels one hop:

    - *large-star*, per node u with neighborhood Γ(u): connect every
      strictly LARGER neighbor to m = min(Γ(u) ∪ {u}) — one
      symmetrize + map-side-combinable min aggregate + one join.
    - *small-star*, per node u over its smaller neighbors S(u): point
      u and all of S(u) at min(S(u)) — same shape, no symmetrize.

    Both steps preserve connectivity and strictly shrink a potential
    function, converging to min-centered STARS in **O(log² n) rounds
    worst-case (O(log n) observed)** — vs the min-label loop this
    replaces, whose round count was O(component diameter): a 100-TB
    web-ish pair graph with one long chain meant hundreds of
    materialized full passes. A 65-node path converges in 7 rounds here
    (incl. the fixpoint-confirming round, pinned by test) where
    min-label needs 64. Near-dup components are
    near-cliques, so typical inputs still finish in 2-4 rounds; the win
    is the WORST case no longer being data-shaped. Skew-safe: hub
    nodes hit min aggregates (partial-combined), never a collect.

    Runtime adaptations shared with the old kernel: the loop's frames
    are repartitioned to a width sized from the materialized edge count
    (control-plane — the edges are already checkpointed), and each
    round's edge set is ``materialize()``d — persist() would cache data
    but nest every prior round's LOGICAL plan, with analyzer time
    superlinear in that depth (measured: 2.6 s → 317 s per round by
    iteration 5 on a 292-edge graph; checkpointed, every round is
    flat). Convergence is an EXACT edge-set fixpoint test (new ⊆ old
    via exceptAll-limit-1 plus equal distinct counts ⇒ equal sets —
    at the fixpoint the star set is invariant under both steps), and a
    non-converged exit now RAISES instead of silently returning
    partial labels (the old kernel's quiet failure mode on
    long-diameter graphs).

    Returns (node, component) — component = the minimum id in the
    node's component; only nodes that appear in an edge are labeled
    (self-loop-only nodes label themselves)."""
    # Materialize the edge list BEFORE deriving anything: the canonical
    # projection and the node universe would otherwise each re-evaluate
    # the caller's (possibly expensive) pair-generation lineage.
    edges_ck, edges_count = materialize_counted(
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    )
    # Size the loop's parallelism from the graph itself (~50k edges per
    # partition, capped): the edge count rides edges_ck's materializing
    # job (materialize_counted), and every subsequent round pays
    # per-task scheduling on exactly this width.
    n_parts = max(1, min(4096, edges_count // 50_000 + 1))
    # Node universe, for singleton parity (a self-loop-only node must
    # still label itself — the min-label kernel did so implicitly).
    nodes = materialize(
        edges_ck.select(F.col("src").alias("node"))
        .unionByName(edges_ck.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(n_parts, "node")
    )
    # Canonical directed larger→smaller edges, self-loops dropped.
    e, e_count = materialize_counted(
        edges_ck.select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .repartition(n_parts, "u")
    )
    converged = e_count == 0
    rounds = 0
    for _ in range(max_iters):
        if converged:
            break
        rounds += 1
        # LARGE-STAR: m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) for every
        # neighbor v > u. Each canonical edge (u,v) is seen from both
        # endpoints but emits exactly once (from the smaller side), so
        # the edge count never grows.
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m_large = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        large = (
            sym.join(m_large, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .repartition(n_parts, "u")
        )
        # SMALL-STAR over the larger→smaller edges: point u and all its
        # smaller neighbors at the minimum of those neighbors.
        m_small = large.groupBy("u").agg(F.min("v").alias("m"))
        # The convergence count rides the materializing job itself
        # (materialize_counted): one job per round, not checkpoint +
        # count — this loop's cost at bench scale is almost entirely
        # per-round job latency (~80 tiny jobs before the fuse).
        new_e, new_count = materialize_counted(
            large.join(m_small, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(
                m_small.select(F.col("u"), F.col("m").alias("v"))
            )
            .distinct()
            .repartition(n_parts, "u")
        )
        # Exact fixpoint test: both sets are distinct, so new ⊆ old
        # (exceptAll finds no witness) with equal counts ⇒ equal sets.
        if new_count == e_count:
            converged = new_e.exceptAll(e).limit(1).count() == 0
        e, e_count = new_e, new_count
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "large-star/small-star rounds — raise max_iters "
            "(O(log² n) rounds suffice for any n this side of 2^40)"
        )
    # Private test instrumentation: rounds taken by the last invocation
    # (the path-graph round-count bound is pinned by test against it).
    # NOT part of the library surface; module-global last-writer-wins,
    # only meaningful single-threaded (tests).
    connected_components._last_rounds = rounds
    # Fixpoint is a set of min-centered stars: leaves are the u side;
    # every NON-leaf node (star center or self-loop-only singleton)
    # labels itself, so one left join against the leaves covers the
    # whole universe. Materialized so callers see a flat scan (the
    # registry plan audit budgets the post-loop plan).
    leaves = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return materialize(
        nodes.join(leaves, "node", "left").select(
            "node",
            F.coalesce("component", F.col("node")).alias("component"),
        )
    )


def exact_survivors(
    docs: DataFrame, id_col: str, fingerprint_col: Column
) -> DataFrame:
    """One row per distinct fingerprint: the minimum-id survivor plus the
    group size. The exact-dedup keep-list; anti-join the corpus against it
    to get the drop-list."""
    return (
        docs.select(F.col(id_col).alias("id"), fingerprint_col.alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "fp", "n_copies")
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    positioned n-gram, slide a ``window``-wide frame over the hash
    sequence, keep each frame's minimum, and emit the distinct minima as
    the document's fingerprint set — guaranteed to share fingerprints with
    any document that shares a run of ≥ window+n-1 tokens.

    Relational all the way: positioned shingles via posexplode + lead
    (same plan as shingle_rows but keeping ``pos`` and duplicates, since
    winnowing is position-sensitive), the rolling minimum as a window
    ``min`` over a ROWS frame, one distinct. Returns (id, fp) rows; digest
    per doc with groupBy + sorted concat when a single value is needed.
    """
    # spread BEFORE the positioned explode (same reasoning as
    # _simhash_packed_sums / shingle_rows): the downstream windows key
    # on id, so the explicit hash repartition is the exchange they need
    # anyway — what moves is WHERE the explode happens.
    tok_rows = spread_by(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    grams = (
        tok_rows.withColumn("nxt", parts[-1])
        .withColumn("h", F.substring(F.md5(F.concat_ws(" ", *parts)), 1, 16))
        .filter(F.col("nxt").isNotNull())
        .select("id", "pos", "h")
    )
    frame = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    )
    # A frame starting at pos is fully inside the sequence iff a gram
    # exists window-1 rows ahead. lead shares frame's partition/order, so
    # both evaluate in ONE WindowExec over one sort — the previous
    # count-over-(partition-only) window forced a second Window node.
    return (
        grams.select(
            "id",
            F.min("h").over(frame).alias("m"),
            F.lead("h", window - 1).over(w).alias("_end"),
        )
        .filter(F.col("_end").isNotNull())
        .select("id", F.col("m").alias("fp"))
        .distinct()
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: fingerprints within ``max_hamming``
    bits of each other.

    Classic 64-bit SimHash blocking: split the fingerprint into ``bands``
    equal slices; by pigeonhole, any pair within ``bands-1`` bits of each
    other agrees exactly on at least one slice, so candidates come from an
    equi-join on (band, slice) — a hash join on short keys, never an
    all-pairs scan. (With max_hamming ≥ bands the guarantee weakens to
    high recall rather than totality — the standard trade.)

    Everything is integer-domain: the fingerprint lives in two 32-bit
    longs (persisted, so the token-explode lineage runs once, not once per
    join side), band keys are 16-bit shift/mask ints, and verification is
    ``bit_count(xor)`` — two POPCNT instructions per candidate instead of
    64 substring compares.

    ``max_bucket_size`` is the skew guard: SimHash bits are correlated over
    same-language corpora, so a low-entropy slice can collect a huge bucket
    whose self-join is quadratic (the classic skewed-key shuffle at corpus
    scale). Buckets larger than the cap are dropped before candidate
    generation — standard SimHash-blocking practice; recall for pairs whose
    only agreeing slice was the hot one is traded for a bounded join.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    if 32 % (64 // bands):
        raise ValueError("bands must divide 64 with a slice width dividing 32")
    width = 64 // bands
    per_half = 32 // width
    mask = (1 << width) - 1
    fp = persist_tracked(simhash_fp_halves(docs, id_col, text_col))
    keys = [
        F.shiftright(
            F.col("hi") if b < per_half else F.col("lo"),
            32 - ((b % per_half) + 1) * width,
        ).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ]
    sliced = fp.select(
        "id", "hi", "lo", F.posexplode(F.array(*keys)).alias("band", "key")
    )
    if max_bucket_size is not None:
        bw = Window.partitionBy("band", "key")
        sliced = (
            sliced.withColumn("bsz", F.count(F.lit(1)).over(bw))
            .filter(F.col("bsz") <= max_bucket_size)
            .drop("bsz")
        )
    sliced = persist_tracked(sliced)
    cand = (
        sliced.alias("a")
        .join(
            sliced.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.hi").alias("hi_a"),
            F.col("a.lo").alias("lo_a"),
            F.col("b.hi").alias("hi_b"),
            F.col("b.lo").alias("lo_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame | None,
    id_col: str = "doc_id",
    fingerprint_col: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup: process a NEW batch of documents against
    the fingerprint registry accumulated by prior batches — the
    steady-state shape of a production corpus pipeline, where yesterday's
    100 TB is not re-fingerprinted to admit today's terabyte.

    Two-step: (1) within-batch survivors (min id per fingerprint), then
    (2) an anti-join against the registry drops documents whose content
    arrived in ANY earlier batch. Both shuffles key on the uniform
    128-bit fingerprint; the registry side is (fp)-only and bounded by
    distinct content, not corpus size. Passing ``seen_fps=None`` starts
    an empty registry.

    Returns ``(new_unique, updated_registry)`` — persist the registry
    frame (parquet) between runs; the round-trip is pinned by test."""
    from financial_data_engineering_spark.functions import text as tx

    fp = (
        fingerprint_col
        if fingerprint_col is not None
        else tx.fingerprint(F.col("text"))
    )
    batch_survivors = exact_survivors(new_docs, id_col, fp)
    if seen_fps is not None:
        fresh = batch_survivors.join(seen_fps, "fp", "left_anti")
        updated = seen_fps.select("fp").unionByName(fresh.select("fp"))
    else:
        fresh = batch_survivors
        updated = fresh.select("fp")
    new_unique = new_docs.join(
        fresh.select(F.col(id_col)), id_col
    )
    return new_unique, updated


def minhash_registry_matches(
    batch: DataFrame,
    registry_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    registry_inv: DataFrame | None = None,
    registry_bands: DataFrame | None = None,
) -> DataFrame:
    """Cross-batch NEAR-dup screen: which new documents are fuzzy
    duplicates of an already-ingested corpus — the incremental companion
    to :func:`incremental_exact_dedup` for content that was edited, not
    copied byte-for-byte.

    Shape: both sides get the same MinHash band keys; candidates come from
    the batch×registry equi-join on (band, key) — NEVER batch×registry
    all-pairs — and only candidates pay exact-Jaccard verification. At
    steady state the registry side is yesterday's banded keys read from
    parquet; today's batch is the only side shingled fresh, so daily cost
    scales with the batch, not the corpus.

    Returns (id, best_match, jaccard_e4): per batch document, the registry
    document with the highest verified Jaccard (jaccard_e4 = half-up
    integer e4 scale) at ≥ threshold; ties → lowest registry id. Batch and
    registry ids must be disjoint.

    Steady-state callers pass ``registry_inv`` (id, g shingle rows) and
    ``registry_bands`` (id, band, key) read from parquet instead of
    ``registry_docs`` — then the registry corpus is NEVER re-shingled and
    the daily cost is the batch's alone (see examples/incremental_ingest).
    """
    rows = k // bands
    if registry_inv is None or registry_bands is None:
        if registry_docs is None:
            raise ValueError(
                "pass registry_docs, or both registry_inv and registry_bands"
            )
        registry_inv = persist_tracked(
            shingle_rows(registry_docs, id_col, text_col, n)
        )
        registry_bands = lsh_band_keys(
            minhash_signatures(registry_inv, "id", "g", k), bands, rows
        )
    inv_b = persist_tracked(shingle_rows(batch, id_col, text_col, n))
    inv_r = registry_inv
    bands_b = lsh_band_keys(minhash_signatures(inv_b, "id", "g", k), bands, rows)
    bands_r = registry_bands
    cand = (
        bands_b.alias("a")
        .join(
            bands_r.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = _pair_jaccard(cand, inv_b.unionByName(inv_r), threshold)
    w = Window.partitionBy("doc_a").orderBy(
        F.desc("jaccard_e4"), F.asc("doc_b")
    )
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_a").alias(id_col),
            F.col("doc_b").alias("best_match"),
            "jaccard_e4",
        )
    )
