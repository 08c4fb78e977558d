"""Pretraining-corpus curation operators: repetition/quality gates
(Gopher-rule family), PII scrubbing, sequence packing, and mixture
sampling. These extend the engine beyond the reference's telemetry
operators into the large-scale training-data-pipeline territory the
repo is built for — every operator is a pure columnar plan (no UDFs),
oracle-checkable, and designed around one bounded pass per row.

Scale notes (10^12 docs):
  - repetition stats are per-row array folds over a token prefix cap —
    scan-speed projections, zero shuffle;
  - PII scrub is a fixed chain of regexp_replace in whole-stage codegen;
  - packing shuffles once on the partition key (the same shard key the
    writer needs anyway) and uses a single running-sum window;
  - mixture sampling is a hash-gate projection (no shuffle, no state).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql import types as T

from .textstats import h60, shingles_of, tokens


# ---------------------------------------------------------------------------
# Gopher-style repetition / quality signals
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    max_tokens: int = 500,
) -> DataFrame:
    """Per-doc repetition signals from the Gopher rule family (Rae et al.
    2021, §A1.1 quality filtering): duplicate-line fraction, top-bigram
    character-ish fraction, symbol-to-word ratio, alpha-word fraction.
    Dedup is row-local: every stat is an array fold over the first
    `max_tokens` tokens (a bounded O(distinct×n) per row, independent of
    table size — the cap keeps pathological megadocs from quadratic
    blowup; Gopher's own rules saturate far below it).

    Output columns:
      dup_line_frac    1 − distinct(lines)/lines   (0 for ≤1 line)
      top_bigram_frac  count(most frequent word bigram) / total bigrams
      symbol_word_ratio  symbols (#, …, |, ~, \\) per word
      alpha_word_frac  fraction of words containing a letter
    """
    t = F.col(text_col)
    # stage the arrays as real columns: a lambda that references an outer
    # expression TREE re-inlines (and re-evaluates) it once per element,
    # turning the bigram count into O(n²) re-tokenizations — staged
    # attributes are cheap references, and CollapseProject keeps stages
    # with multiply-referenced expensive expressions separate
    staged = df.select(
        "*",
        F.filter(F.split(t, r"\n"), lambda x: F.trim(x) != "").alias("_lines"),
        F.slice(tokens(t), 1, max_tokens).alias("_toks"),
    )
    toks = F.col("_toks")
    n_tok = F.size(toks)
    staged = staged.select(
        "*",
        F.when(
            n_tok >= 2,
            F.transform(
                F.slice(toks, 1, n_tok - 1),
                lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + 2)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_bg"),
    )
    lines_c, bg = F.col("_lines"), F.col("_bg")
    n_lines = F.size(lines_c)
    dup_line_frac = F.when(
        n_lines > 1,
        1.0 - F.size(F.array_distinct(lines_c)) / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    n_bg = F.size(bg)
    # most-frequent-bigram count == longest equal run in the SORTED array:
    # one sort + one linear fold, O(n log n) per row vs the O(distinct × n)
    # filter-per-distinct-bigram formulation (~17% faster on the 500-token
    # cap in an interleaved A/B, and asymptotically safe for larger caps).
    max_run = F.aggregate(
        F.array_sort(bg),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_bg = F.when(n_bg > 0, max_run / n_bg.cast("double")).otherwise(F.lit(0.0))
    n_words = F.greatest(n_tok, F.lit(1)).cast("double")
    # numerator over the SAME capped token prefix as the denominator —
    # counting symbols in the full text against a capped word count would
    # inflate the ratio for every long document
    symbol_ratio = F.regexp_count(F.array_join(toks, " "), F.lit(r"[#|~\\]|\.\.\.")) / n_words
    alpha_frac = F.when(
        n_tok > 0,
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))) / n_tok.cast("double"),
    ).otherwise(F.lit(0.0))

    return staged.select(
        *df.columns,
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.round(top_bg, 6).alias("top_bigram_frac"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_top_bigram_frac: float = 0.20,
    max_symbol_word_ratio: float = 0.10,
    min_alpha_word_frac: float = 0.80,
    flag_col: str = "gopher_pass",
) -> DataFrame:
    """The composed go/no-go gate over repetition_stats with the published
    Gopher thresholds as defaults; emits the boolean instead of dropping
    so downstream mixture sampling can re-weight rejects if desired."""
    scored = repetition_stats(df, text_col)
    return scored.withColumn(
        flag_col,
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac),
    )


# C4-style policy phrases: a line containing any of these (case-insensitive)
# is boilerplate chrome, not content (Raffel et al. 2020 §2.2 cleaning).
C4_POLICY_PHRASES: tuple[str, ...] = (
    "javascript",
    "privacy policy",
    "terms of use",
    "cookie policy",
    "uses cookies",
)


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_kept_lines: int = 3,
    policy_phrases: tuple[str, ...] = C4_POLICY_PHRASES,
    out_col: str = "text_clean",
) -> DataFrame:
    """LINE-level cleaning from the C4 rule family (Raffel et al. 2020
    §2.2) — the complement of the doc-level gopher_filter gate: instead of
    rejecting whole documents it rewrites them, keeping only lines that
    look like prose. A (trimmed) line survives iff it
      * has ≥ `min_words_per_line` whitespace words,
      * ends in terminal punctuation (. ! ? or a closing quote), and
      * contains none of `policy_phrases` (case-insensitive) — the
        javascript/cookie/policy boilerplate C4 strips.
    Page verdict `c4_pass` then applies the C4 doc rules to the CLEANED
    doc: ≥ `min_kept_lines` surviving lines, no "lorem ipsum", no "{".

    One scan-speed projection (split → filter lambda → array_join), zero
    shuffle, zero Python — the whole rule bank runs inside codegen, so at
    100 TB this is bounded by parquet scan throughput.
    """
    t = F.col(text_col)
    nonblank = F.filter(
        F.transform(F.split(t, r"\n"), lambda x: F.trim(x)), lambda x: x != ""
    )

    def _keep(x: Column) -> Column:
        wc = F.size(F.filter(F.split(x, r"\s+"), lambda w: w != ""))
        cond = (wc >= min_words_per_line) & x.rlike('[.!?"]$')
        low = F.lower(x)
        for p in policy_phrases:
            cond = cond & ~low.contains(p)
        return cond

    staged = df.select("*", F.filter(nonblank, _keep).alias("_kept"))
    kept = F.col("_kept")
    n_kept = F.size(kept)
    page_pass = (
        (n_kept >= min_kept_lines)
        & ~F.lower(F.array_join(kept, "\n")).contains("lorem ipsum")
        & ~F.array_join(kept, "\n").contains("{")
    )
    return staged.select(
        *df.columns,
        F.array_join(kept, "\n").alias(out_col),
        n_kept.cast("int").alias("n_lines_kept"),
        (F.size(nonblank) - n_kept).cast("int").alias("n_lines_dropped"),
        page_pass.alias("c4_pass"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# ordered (category, pattern, token): applied top to bottom, all-global.
# Order matters — emails are masked before phone shapes can eat their
# digits; SSN-shape before generic phone. RE2/Java/Python-portable.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    ("ipv4", r"\b\d{1,3}(?:\.\d{1,3}){3}\b", "<IP>"),
    ("phone", r"\b\d{3}[- .]\d{3}[- .]\d{4}\b", "<PHONE>"),
]


def pii_scrub(df: DataFrame, text_col: str = "text", out_col: str | None = None) -> DataFrame:
    """Mask the PII_RULES categories and count hits per category (counts
    measured on the pre-scrub text, masking applied sequentially in rule
    order so earlier masks can't create later false positives). One fused
    projection — redactionprocessor's blocked-value semantics
    (processor/redactionprocessor) applied to document text."""
    t = F.col(text_col)
    out = out_col or f"{text_col}_scrubbed"
    counts = [
        F.regexp_count(t, F.lit(pat)).alias(f"pii_{cat}_count") for cat, pat, _ in PII_RULES
    ]
    scrubbed = t
    for _cat, pat, token in PII_RULES:
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.select("*", *counts, scrubbed.alias(out))


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Concatenate-then-chunk sequence packing: documents are laid out in
    deterministic id order (within each partition group), and each doc is
    assigned the pack where its first token lands —
    pack_id = floor(prefix_token_sum / budget). This is the standard
    GPT-style pretraining layout (concatenate the stream, cut every
    `budget` tokens); a doc may straddle packs, and `pack_offset` gives
    its start position inside the pack so the tokenizer can split
    deterministically.

    Scale: one window (running sum) partitioned by `partition_cols` —
    pack within natural shards (source/domain/date) so no global ordering
    is ever required; the shuffle key doubles as the writer's layout key.
    """
    parts = partition_cols or []
    w = (
        Window.partitionBy(*[F.col(c) for c in parts]).orderBy(F.col(id_col))
        if parts
        else Window.partitionBy(F.lit(1)).orderBy(F.col(id_col))
    )
    # ROWS frame, not the default RANGE: with a duplicated id the RANGE
    # frame gives both rows the same running sum and they double-book the
    # same pack offsets, corrupting the stream layout
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    before = F.coalesce(
        F.sum(F.col(token_count_col)).over(w) - F.col(token_count_col), F.lit(0)
    )
    return df.select(
        *df.columns,
        F.floor(before / F.lit(budget)).cast("bigint").alias("pack_id"),
        (before % F.lit(budget)).cast("bigint").alias("pack_offset"),
    )


def length_bucketed_batches(
    df: DataFrame,
    batch_size: int,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    bucket_edges: tuple[int, ...] = (64, 128, 256, 512, 1024),
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Padding-efficiency batching for variable-length examples: each row
    is assigned the smallest bucket edge that fits its token count (rows
    longer than the largest edge clamp to it and are flagged
    `truncated`), then rows inside a bucket are laid out in
    deterministic id order and cut into fixed-size batches —
    batch_id = floor(rank/batch_size), pos_in_batch = rank%batch_size.
    `pad_frac` reports the padding wasted on the row at its bucket cap,
    the quantity this layout exists to minimize.

    Scale: one window per (partition_cols…, bucket) group. With only a
    handful of buckets a global layout would funnel 100 TB through ~5
    partitions, so `partition_cols` (source/domain/date — the shards a
    training loader reads independently anyway) is the production path:
    batches are per-shard and the window key has real cardinality. The
    default (no partition cols) matches the single-host semantics the
    oracle checks.
    """
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    edges = sorted(bucket_edges)
    n = F.col(token_count_col).cast("bigint")
    edge_arr = F.array(*[F.lit(e).cast("bigint") for e in edges])
    cap = F.coalesce(
        F.array_min(F.filter(edge_arr, lambda e: e >= n)),
        F.lit(edges[-1]).cast("bigint"),
    )
    parts = [F.col(c) for c in (partition_cols or [])]
    staged = df.select(
        *df.columns,
        cap.alias("bucket_cap"),
        (n > F.lit(edges[-1])).alias("truncated"),
    )
    w = Window.partitionBy(*parts, F.col("bucket_cap")).orderBy(F.col(id_col))
    rank0 = F.row_number().over(w) - 1
    return staged.select(
        *staged.columns,
        F.floor(rank0 / F.lit(batch_size)).cast("bigint").alias("batch_id"),
        (rank0 % F.lit(batch_size)).cast("bigint").alias("pos_in_batch"),
        F.round(
            (F.col("bucket_cap") - F.least(n, F.col("bucket_cap")))
            / F.col("bucket_cap").cast("double"),
            6,
        ).alias("pad_frac"),
    )


# ---------------------------------------------------------------------------
# mixture sampling (domain re-weighting)
# ---------------------------------------------------------------------------


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    domain_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-domain rate sampling — the data-mixture step of a
    pretraining pipeline (keep p_d of domain d). The keep decision is a
    pure hash gate on (salt, key): h60(salt||key) % 1e6 < rate·1e6 — the
    same verdict on every engine and every rerun (resumable pipelines
    must not resample), no shuffle, no RNG state. Rates are validated to
    [0, 1]; unknown domains fall back to default_rate."""
    for d, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"mixture rate for {d!r} must be in [0,1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")
    # thresholds become exact driver-side ints: (rate * 1e6) computed in
    # engine float arithmetic truncates 0.3*1e6 to 299999 in one engine
    # and rounds to 300000 in another — int(round()) once, here, keeps the
    # verdict engine-independent for every rate, not just dyadic ones
    thr = F.lit(int(round(default_rate * 1000000)))
    for d, r in rates.items():
        thr = F.when(F.col(domain_col) == d, F.lit(int(round(r * 1000000)))).otherwise(thr)
    gate = h60(F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string"))) % 1000000
    return df.filter(gate < thr)


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram with an evaluation/benchmark corpus (the GPT-3 appendix-C /
    Gopher §A.2 protocol — production uses 13-grams; the fixture docs are
    short so tests use n=3, the operator takes any n).

    Output per train doc: n_grams (distinct n-grams), n_overlap (of those,
    how many appear anywhere in the eval set), overlap_frac (rounded 6),
    contaminated (n_overlap >= min_overlap). Docs with < n tokens have
    0 grams and are never contaminated. Emits the flag rather than
    dropping so the caller can audit / quarantine.

    Scale (100 TB train, benchmark eval): the eval gram set is DISTINCT
    n-gram hashes of the *benchmark* corpus — MBs even for large suites —
    so it broadcasts; the train side is one explode + broadcast LEFT join +
    one hash agg on the doc key. No shuffle touches the eval side; the
    train shuffle is the doc-key agg only. `array_distinct` dedups grams
    row-locally before the explode so join input is bounded by distinct
    grams, not token count.
    """
    g_tr = shingles_of(tokens(F.col(text_col)), n)
    ev = (
        eval_df.select(F.explode(shingles_of(tokens(F.col(text_col)), n)).alias("_g"))
        .select(h60(F.col("_g")).alias("_egh"))
        .distinct()
    )
    tr = train_df.select(
        F.col(id_col), F.explode_outer(g_tr).alias("_g")
    ).select(F.col(id_col), h60(F.col("_g")).alias("_gh"))
    joined = tr.join(F.broadcast(ev), tr["_gh"] == ev["_egh"], "left")
    agg = joined.groupBy(id_col).agg(
        F.count("_gh").alias("n_grams"),
        F.count("_egh").alias("n_overlap"),
    )
    frac = F.when(
        F.col("n_grams") > 0,
        F.round(F.col("n_overlap") / F.col("n_grams").cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return agg.select(
        id_col,
        "n_grams",
        "n_overlap",
        frac.alias("overlap_frac"),
        (F.col("n_overlap") >= min_overlap).alias("contaminated"),
    )


def decontaminate_fuzzy(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """FUZZY benchmark decontamination: flag training documents whose
    n-gram Jaccard similarity against ANY eval/benchmark document is
    >= threshold — the near-duplicate contamination the exact-overlap
    `decontaminate` protocol misses (paraphrased eval questions, extracts
    with edits — the regime the GPT-3 appendix-C dedup handles with fuzzy
    13-gram matching).

    Bipartite MinHash LSH composed from the dedup primitives: both sides
    get band buckets, candidates come from a bucket equi-join with the
    EVAL side broadcast (a benchmark suite is MBs even when the train side
    is 100 TB), and exact-Jaccard verification runs on candidates only.
    The train side is never self-joined — cost is O(train buckets) scan +
    O(candidate pairs) verify.

    Output one row per train doc: (id, n_matches, max_jaccard,
    matched_eval = smallest matching eval id for determinism,
    contaminated). Docs with < n tokens have no shingles and are never
    contaminated. Emits flags rather than dropping so callers audit."""
    from .dedup import _verify_candidates, lsh_buckets, minhash_signatures, shingle_table

    bk_t = lsh_buckets(minhash_signatures(train_df, id_col, text_col, n, bands, rows), bands, rows)
    bk_e = lsh_buckets(minhash_signatures(eval_df, id_col, text_col, n, bands, rows), bands, rows)
    cands = (
        bk_t.join(F.broadcast(bk_e.withColumnRenamed("doc", "_edoc")), ["band", "bucket"])
        .select(F.col("doc").alias("doc_a"), F.col("_edoc").alias("doc_b"))
        .distinct()
    )
    verified = _verify_candidates(
        cands,
        shingle_table(train_df, id_col, text_col, n),
        shingle_table(eval_df, id_col, text_col, n),
        threshold,
    )
    per_doc = verified.groupBy("doc_a").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("jaccard").alias("max_jaccard"),
        F.min("doc_b").alias("matched_eval"),
    )
    return (
        train_df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("doc_a", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_matches"), F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce(F.col("max_jaccard"), F.lit(0.0)).alias("max_jaccard"),
            F.col("matched_eval"),
            (F.coalesce(F.col("n_matches"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic training-order shuffle (seeded shard assignment)
# ---------------------------------------------------------------------------


def train_shuffle(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "seed0",
) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: every row
    gets (shard_id, shard_pos) from a seeded hash of its key —
    key = h60(seed || ':' || id), shard = key % n_shards, pos = rank of
    key within the shard. Reading shards 0..n-1 each in pos order yields
    a uniform random permutation of the corpus that is identical on every
    engine and every rerun (resumable training must not reshuffle), with
    a new permutation per seed — no RNG state, no `rand()`.

    Scale: one shuffle (the shard-key exchange) + a per-shard sort. Choose
    n_shards >= cluster parallelism (production: thousands — shards are
    also the writer's file grain), so each shard's sort is bounded by
    rows/n_shards and every core sorts its own shard; the window below
    IS that per-shard sort, there is no global ordering anywhere.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = h60(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")))
    staged = df.select("*", key.alias("_skey"))
    shard = (F.col("_skey") % n_shards).cast("int")
    w = Window.partitionBy(shard).orderBy(F.col("_skey"), F.col(id_col))
    return staged.select(
        *df.columns,
        shard.alias("shard_id"),
        F.row_number().over(w).alias("shard_pos"),
    )


# ---------------------------------------------------------------------------
# cross-document line dedup (C4-style boilerplate removal)
# ---------------------------------------------------------------------------


def dedup_lines_across_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    min_words: int = 3,
) -> DataFrame:
    """C4-style boilerplate removal (Raffel et al. 2020 §2.2: "we discarded
    all but one of any three-sentence span occurring more than once", here
    at line granularity): a line occurring >= min_df times across the
    corpus keeps only its globally-first occurrence (lowest (doc, position))
    and is stripped everywhere else. Lines shorter than `min_words` words
    (headings, blanks, separators) are exempt — never counted, never
    stripped.

    Output: (id, text_deduped, n_lines_removed) — documents reassembled in
    original line order.

    Scale: posexplode to line grain, ONE window partitioned by the line
    hash (count + first-occurrence key in the same pass — no join back to
    the corpus), then one re-assembly aggregation on the doc key. Shuffle
    volume is line-grain but each stage is a single exchange; the h60 line
    key keeps the window partitioner dense."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("_pos", "_line"),
    )
    n_words = F.size(F.filter(F.split(F.trim(F.col("_line")), r"\s+"), lambda x: x != ""))
    lines = lines.withColumn("_eligible", n_words >= min_words)
    # partition key: eligible lines group on their content hash; exempt
    # lines each get their own (id, pos) partition — one shared key for
    # all exempt rows would be a catastrophic skew partition at scale.
    # Pure column tuple, no id arithmetic: works for string ids and can
    # neither overflow nor collide (the old _id*1e6+_pos key did both).
    pks = [
        F.when(F.col("_eligible"), h60(F.col("_line"))),
        F.when(~F.col("_eligible"), F.col("_id")),
        F.when(~F.col("_eligible"), F.col("_pos")),
    ]
    w = Window.partitionBy(*pks)
    wo = w.orderBy(F.col("_id"), F.col("_pos"))
    marked = lines.withColumn(
        "_df", F.when(F.col("_eligible"), F.count(F.lit(1)).over(w)).otherwise(F.lit(1))
    ).withColumn("_rn", F.row_number().over(wo))
    kept = marked.filter(
        ~F.col("_eligible") | (F.col("_df") < min_df) | (F.col("_rn") == 1)
    )
    assembled = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_pos"), F.col("_line")))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("text_deduped"),
        F.count(F.lit(1)).alias("_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("_id"),
        # coalesce: split(NULL) -> NULL -> size NULL (ANSI); 0 lines
        F.coalesce(F.size(F.split(F.col(text_col), r"\n")), F.lit(0)).alias("_total"),
    )
    return (
        totals.join(assembled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("text_deduped"), F.lit("")).alias("text_deduped"),
            (F.col("_total") - F.coalesce(F.col("_kept"), F.lit(0))).cast("int").alias("n_lines_removed"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling" — public method)
# ---------------------------------------------------------------------------


def dsir_weights(
    df: DataFrame,
    target_cond: Column | str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    weight_col: str = "dsir_logweight",
) -> DataFrame:
    """Per-document importance log-weights for target-domain selection.

    Features are hashed n-grams (unigrams + adjacent bigrams) bucketed into
    `n_buckets` via the portable 60-bit md5 hash. The target distribution p
    comes from rows matching `target_cond`; the source distribution q from
    the whole corpus; both get add-one smoothing. weight(d) = Σ over d's
    ngrams of ln p(b) − ln q(b); documents resembling the target domain
    score higher. Selection = rank/threshold on the weight downstream.

    Scale design (10^12 docs): one tokenize+explode, then TWO aggregations —
    pass 1 reduces the exploded ngrams to `n_buckets` rows (map-side combine
    → shuffle of B rows), whose log-ratios are computed driver-side and
    inlined as a literal decimal array (same justified-inline pattern as the
    IVF centroids); pass 2 is groupBy(doc).sum(element_at(lr, b)). No join
    against the distribution, no UDF. The log-ratios are rounded to 9
    decimals and accumulated as decimal(18,9), so the per-doc sum is exact
    regardless of either engine's float-summation order; docs with no
    tokens keep a null weight (no evidence).
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    cond = F.expr(target_cond) if isinstance(target_cond, str) else target_cond
    toks = tokens(F.lower(F.col(text_col)))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, F.lit(1), n1),
        F.slice(toks, F.lit(2), n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    ex = df.select(
        F.col(id_col).alias("_id"),
        cond.cast("int").alias("_t"),
        F.explode(F.concat(toks, bigrams)).alias("g"),
    ).withColumn("b", F.pmod(h60(F.col("g")), F.lit(n_buckets)).cast("int"))

    dist = ex.groupBy("b").agg(F.count(F.lit(1)).alias("q"), F.sum("_t").alias("p")).collect()
    qc = {r["b"]: r["q"] for r in dist}
    pc = {r["b"]: (r["p"] or 0) for r in dist}
    tq, tp = sum(qc.values()), sum(pc.values())
    quantum = Decimal("1e-9")
    lr = [
        Decimal(
            math.log((pc.get(b, 0) + 1.0) / (tp + n_buckets))
            - math.log((qc.get(b, 0) + 1.0) / (tq + n_buckets))
        ).quantize(quantum, rounding=ROUND_HALF_UP)
        for b in range(n_buckets)
    ]
    arr = F.array(*[F.lit(v).cast("decimal(18,9)") for v in lr])
    w = ex.groupBy("_id").agg(
        F.sum(F.element_at(arr, F.col("b") + 1)).cast("double").alias(weight_col)
    )
    return df.join(
        w.withColumnRenamed("_id", id_col), on=id_col, how="left"
    )


def lm_quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
    score_col: str = "lm_logprob",
) -> DataFrame:
    """Corpus-trained bucketed-bigram LM score per document (the CCNet-style
    perplexity quality signal, with the hashed-bucket LM standing in for a
    KenLM model — the pluggable-model hook in textstats can mount a real one).

    Train: bigram (prev,cur) token-bucket counts over the corpus with
    add-one smoothing → conditional log-probs lp[prev][cur]. Score:
    mean lp over the doc's bigrams (higher = more corpus-typical; perplexity
    = exp(−score)). Docs with <2 tokens get null (no evidence).

    Same scale shape as dsir_weights: one explode, a B²-row aggregation
    collected and inlined as a literal decimal array (B=32 → 1024 entries),
    then one groupBy(doc) — no model join, no UDF. Decimal(18,9)
    accumulation and driver-side quantization keep both engines bit-equal.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    toks = tokens(F.lower(F.col(text_col)))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, F.lit(1), n1),
        F.slice(toks, F.lit(2), n1),
        lambda a, b: F.struct(a.alias("p"), b.alias("c")),
    )
    ex = df.select(F.col(id_col).alias("_id"), F.explode(bigrams).alias("g")).select(
        "_id",
        F.pmod(h60(F.col("g.p")), F.lit(n_buckets)).cast("int").alias("hb"),
        F.pmod(h60(F.col("g.c")), F.lit(n_buckets)).cast("int").alias("cb"),
    )
    counts = {
        (r["hb"], r["cb"]): r["n"]
        for r in ex.groupBy("hb", "cb").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    row_tot = [0] * n_buckets
    for (hb, _), n in counts.items():
        row_tot[hb] += n
    quantum = Decimal("1e-9")
    lp = [
        Decimal(
            math.log((counts.get((hb, cb), 0) + 1.0) / (row_tot[hb] + n_buckets))
        ).quantize(quantum, rounding=ROUND_HALF_UP)
        for hb in range(n_buckets)
        for cb in range(n_buckets)
    ]
    arr = F.array(*[F.lit(v).cast("decimal(18,9)") for v in lp])
    scores = ex.groupBy("_id").agg(
        (
            F.sum(F.element_at(arr, F.col("hb") * n_buckets + F.col("cb") + 1)).cast("double")
            / F.count(F.lit(1))
        ).alias(score_col)
    )
    return df.join(scores.withColumnRenamed("_id", id_col), on=id_col, how="left")


def train_split(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — the dataset-split step of a
    pretraining pipeline. Each row lands in exactly one named split by the
    same no-RNG hash gate as mixture_sample: h60(salt||key) % 1e6 falls into
    consecutive integer bands sized by the fractions (insertion order), so
    the assignment is reproducible across engines, reruns, and appends (a
    new row never moves an old row's split). Fractions must sum to ≤ 1;
    any remainder gets null (excluded rows). Pure projection, no shuffle.
    """
    # Boundaries are rounded CUMULATIVELY (not per-increment) so float sums
    # like six 1/6ths — whose rounded increments would total 1,000,002 —
    # can't be falsely rejected; each band still gets within 1 ppm of its
    # asked-for fraction.
    fsum = 0.0
    prev = 0
    bands: list[tuple[str, int, int]] = []
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0,1], got {frac}")
        fsum += frac
        hi = min(int(round(fsum * 1000000)), 1000000)
        bands.append((name, prev, hi))
        prev = hi
    if fsum > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {fsum}, must be <= 1")
    gate = h60(F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string"))) % 1000000
    expr = F.lit(None).cast("string")
    for name, lo, hi in reversed(bands):
        expr = F.when((gate >= lo) & (gate < hi), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Near-dup-aware train/val/test split: documents connected by a
    near-duplicate pair ALWAYS land in the same split. A plain hash split
    (train_split) puts two crawls of the same page on opposite sides ~2pq
    of the time — manufacturing train→test leakage inside the corpus
    itself, the internal counterpart of the external-eval overlap that
    decontaminate() removes. Here the split key is the document's
    connected-component representative over the `pairs` graph
    (dedup.dup_clusters min-label CC), so a whole duplicate cluster moves
    as one unit; unpaired docs are their own singleton component and hash
    exactly as train_split would.

    `pairs` is any (doc_a, doc_b) near-dup table — MinHash-LSH, SimHash,
    or embedding-cosine output all fit. Output: df columns + cluster_rep
    + `out_col`.

    Scale: the CC runs on the PAIR graph only (O(duplicates), not corpus
    size); mapping back is one equi-join on id, and the band gate is the
    same pure projection as train_split — appending new docs never moves
    an existing cluster's split."""
    from .dedup import dup_clusters

    clusters = dup_clusters(pairs).withColumnRenamed("doc", id_col)
    with_rep = df.join(clusters, on=id_col, how="left").withColumn(
        "cluster_rep", F.coalesce(F.col("cluster_rep"), F.col(id_col))
    )
    return train_split(with_rep, fractions, key_col="cluster_rep", salt=salt, out_col=out_col)


def recipe_targets(weights: dict[str, float], token_budget: int) -> dict[str, int]:
    """Per-source token targets for data_recipe: floor(budget * w / Σw),
    computed driver-side once so both the Spark plan and any oracle see
    the same integer literals (no float math inside either engine)."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to > 0")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    return {s: int(token_budget * w / total) for s, w in weights.items()}


def data_recipe(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    salt: str = "recipe",
    n_bucket_bits: int = 10,
) -> DataFrame:
    """Execute a training-data recipe: given mixture weights and a total
    token budget ("1T tokens at 60% web / 30% code / 10% books"), select
    documents per source — in a deterministic hash-shuffled order — until
    each source's token target is met. The selection rule is: a document
    is kept iff the token sum of all earlier documents (in h60(salt:id)
    order within its source) is still below the source's target, so the
    boundary-crossing document is included and every source lands within
    one document of its target (or is exhausted). Zero RNG: reruns,
    engines, and retries produce the identical document set.

    Targets are floor(budget·w/Σw) per source (recipe_targets); sources
    absent from `weights` are excluded. Output: (id, source, n_tokens,
    target_tokens) for selected docs only.

    Scale: the naive formulation is a running-sum window per source — one
    partition PER SOURCE, i.e. a handful of executor-melting partitions at
    100 TB. Instead the order key's high bits define `2^n_bucket_bits`
    contiguous hash-range buckets, and selection runs in two phases:
    (1) per-(source, bucket) token sums — a fixed-width hash agg — and a
    cumulative sum over the TINY (sources × buckets) bucket table decide
    each bucket wholesale: fully inside the target, fully beyond, or THE
    one boundary bucket per source; (2) only boundary-bucket documents
    (~1/2^bits of the corpus) get the within-bucket running-sum window,
    partitioned by (source, bucket) — bounded partitions. Bucket order is
    a prefix of the document order (high bits of the same key), so the
    two-phase answer equals the single-window answer exactly."""
    targets = recipe_targets(weights, token_budget)
    u = h60(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")))
    target_map = F.create_map(
        *[F.lit(x) for s, t in sorted(targets.items()) for x in (s, t)]
    )
    base = (
        df.filter(F.col(source_col).isin(*targets.keys()))
        .select(
            F.col(id_col),
            F.col(source_col),
            F.col(tokens_col).cast("bigint").alias("_tok"),
            u.alias("_u"),
        )
        .withColumn("_b", F.shiftrightunsigned(F.col("_u"), 60 - n_bucket_bits))
        .withColumn("_target", F.element_at(target_map, F.col(source_col)).cast("bigint"))
    )
    bsum = base.groupBy(source_col, "_b").agg(F.sum("_tok").alias("_bt"))
    wb = (
        Window.partitionBy(source_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bcum = bsum.withColumn("_bcum", F.coalesce(F.sum("_bt").over(wb), F.lit(0)))
    joined = base.join(F.broadcast(bcum), [source_col, "_b"])
    out_cols = [
        F.col(id_col),
        F.col(source_col),
        F.col("_tok").alias(tokens_col),
        F.col("_target").alias("target_tokens"),
    ]
    full = joined.filter(F.col("_bcum") + F.col("_bt") <= F.col("_target")).select(*out_cols)
    ww = (
        Window.partitionBy(source_col, "_b")
        .orderBy("_u", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boundary = (
        joined.filter(
            (F.col("_bcum") < F.col("_target"))
            & (F.col("_bcum") + F.col("_bt") > F.col("_target"))
        )
        .withColumn("_win", F.coalesce(F.sum("_tok").over(ww), F.lit(0)))
        .filter(F.col("_bcum") + F.col("_win") < F.col("_target"))
        .select(*out_cols)
    )
    return full.unionByName(boundary)


# ---------------------------------------------------------------------------
# URL / domain blocklist filtering (the C4 / RefinedWeb front gate)
# ---------------------------------------------------------------------------


def url_filter(
    df: DataFrame,
    url_col: str = "url",
    blocked_domains: "DataFrame | list[str] | None" = None,
    blocked_url_regex: str | None = None,
) -> DataFrame:
    """Web-corpus URL gate: drop documents whose host falls under a
    blocked domain (suffix semantics — `ads.example.com` is blocked by
    `example.com`) or whose URL matches a badword pattern. The standard
    first filter of C4 / RefinedWeb-style pipelines, ahead of any text
    inspection.

    Adds: uf_domain (lowercased host), uf_blocked_domain (the blocklist
    entry that matched, NULL if none), uf_blocked_pattern (regex hit),
    uf_keep. Callers `.filter("uf_keep")`.

    Scale design. Suffix matching is NOT expressible as an equi-join on
    the raw host, and a join on a suffix condition would degenerate to
    BroadcastNestedLoopJoin. Instead the host explodes into its ≤6 label
    suffixes (`a.b.c` → a.b.c, b.c, c):

    - list blocklist: membership is an `arrays_overlap` against an
      inlined literal array — a pure projection, zero joins, zero
      shuffle; right for curated lists up to ~10k entries.
    - DataFrame blocklist (UT1-scale, millions of rows): the exploded
      (doc, suffix) pairs equi-join the broadcast blocklist; only the
      MATCHED pairs survive, so the follow-up per-doc min() aggregation
      shuffles just the blocked subset (tiny by construction), and the
      verdict rejoins on doc_id. Cost: one broadcast equi-join over ~6n
      rows + one shuffle of the blocked rows — no nested loops at any
      blocklist size.
    """
    # try_parse_url: malformed URLs yield NULL host (and thus keep) instead
    # of an ANSI-mode INVALID_URL error aborting the scan
    host = F.lower(F.expr(f"try_parse_url({url_col}, 'HOST')"))
    d = df.withColumn("uf_domain", host)
    suffixes = F.expr(
        "transform(sequence(1, size(split(uf_domain, '\\\\.'))),"
        " i -> array_join(slice(split(uf_domain, '\\\\.'), i,"
        " size(split(uf_domain, '\\\\.')) - i + 1), '.'))"
    )
    if isinstance(blocked_domains, (list, tuple)):
        lits = F.array(*[F.lit(b.lower()) for b in blocked_domains])
        matched = F.filter(lits, lambda b: F.array_contains(suffixes, b))
        d = d.withColumn(
            "uf_blocked_domain",
            F.when(F.size(matched) > 0, F.array_min(matched)),
        )
    elif blocked_domains is not None:  # DataFrame(domain: string)
        exploded = d.select(url_col, F.explode(suffixes).alias("_suffix"))
        hits = (
            exploded.join(
                F.broadcast(blocked_domains.select(F.lower("domain").alias("_suffix"))),
                "_suffix",
            )
            .groupBy(url_col)
            .agg(F.min("_suffix").alias("uf_blocked_domain"))
        )
        d = d.join(hits, url_col, "left")
    else:
        d = d.withColumn("uf_blocked_domain", F.lit(None).cast("string"))
    pat_hit = (
        F.coalesce(F.col(url_col).rlike(blocked_url_regex), F.lit(False))
        if blocked_url_regex
        else F.lit(False)
    )
    d = d.withColumn("uf_blocked_pattern", pat_hit)
    return d.withColumn(
        "uf_keep", F.col("uf_blocked_domain").isNull() & ~F.col("uf_blocked_pattern")
    )


def stratified_sample(
    df: DataFrame,
    strata: list[str],
    k: int,
    id_col: str = "doc_id",
    salt: str = "strata",
    rank_col: str = "strata_rank",
) -> DataFrame:
    """Deterministic k-per-stratum sample — the eval-set builder: exactly
    ``k`` documents from every (source × length-bucket × language × …)
    cell, so the held-out set covers the corpus's structure instead of
    mirroring its skew (a uniform corpus sample of a 90%-web mixture
    contains ~no books; a stratified one holds k of each).

    The per-stratum order is h60(salt:id) ascending — the equal-weights
    special case of `weighted_sample`'s A-ES rule, so it inherits the
    same guarantees: ZERO RNG state, rerun/engine identical, and
    appending new strata never changes an existing stratum's picks
    (each doc's key is independent of corpus contents). Strata with
    fewer than ``k`` rows return whole. Adds ``rank_col`` (1..k).

    Scale: one window partitioned by the strata columns that Spark
    executes with WindowGroupLimit — each map task forwards at most k
    rows per stratum before the exchange, so the shuffle carries
    O(strata × k), not the corpus."""
    u = h60(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata).orderBy(u.asc(), F.col(id_col).asc())
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


_TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|igshid|mc_eid|ref|ref_src)(=.*)?$"


def canonicalize_url(
    df: DataFrame,
    url_col: str = "url",
    tracking_param_re: str = _TRACKING_PARAM_RE,
    out_col: str = "canonical_url",
    key_col: str = "url_key",
) -> DataFrame:
    """URL canonicalization for crawl dedup keys: the same page arrives
    under `HTTP://Example.COM:80/a?utm_source=x&b=1#frag` and
    `http://example.com/a?b=1` — a corpus keyed on raw URLs re-crawls and
    re-trains on it twice. Applies the standard normalization ladder
    (each rule is a pure string rewrite, so the operator composes with
    `canonicalize_text` for the content-side key):

      1. strip the fragment (never sent to the server),
      2. lowercase scheme + host,
      3. drop the scheme's default port (:80 http, :443 https),
      4. empty path → '/',
      5. drop tracking parameters (``tracking_param_re``, matched
         case-insensitively against the whole `name=value` token:
         utm_*, gclid, fbclid, msclkid, igshid, mc_eid, ref, ref_src),
      6. byte-sort the surviving query parameters (param order is
         semantically irrelevant to ~every framework but breaks exact
         keys).

    Adds ``out_col`` (NULL when the value has no `scheme://` prefix —
    unparseable rows stay visible instead of colliding on a garbage key)
    and ``key_col`` = h60(canonical) for the downstream exact-dedup
    groupBy. Deliberately NOT done: percent-encoding normalization and
    path dot-segment removal (both change semantics on hostile servers;
    add behind flags if a corpus needs them).

    Scale: one whole-stage-codegen projection — regexp rewrites + an
    array sort over query params, zero joins, zero shuffles, zero UDFs.
    Engine-portable: the DuckDB oracle mirrors each rule with the same
    regexes (list_sort's byte order == array_sort's on ASCII URLs)."""
    u = F.regexp_replace(F.col(url_col), "#.*", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    after = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    hostport = F.lower(F.regexp_extract(after, r"^([^/?]*)", 1))
    host = F.when(
        scheme == "http", F.regexp_replace(hostport, ":80$", "")
    ).otherwise(
        F.when(scheme == "https", F.regexp_replace(hostport, ":443$", "")).otherwise(
            hostport
        )
    )
    pathq = after.substr(F.length(hostport) + F.lit(1), F.length(after))
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pathq, r"^[^?]*\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~F.lower(p).rlike(tracking_param_re),
        )
    )
    q_norm = F.array_join(kept, "&")
    canon = F.when(
        scheme != "",
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.when(q_norm != "", F.concat(F.lit("?"), q_norm)).otherwise(F.lit("")),
        ),
    )
    return df.withColumn(out_col, canon).withColumn(key_col, h60(F.col(out_col)))


def pack_conversations(
    df: DataFrame,
    budget: int = 2000,
    shard_col: Column | None = None,
    n_shards: int = 64,
    id_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Conversation-aware sequence packing: next-fit bin packing of WHOLE
    conversations into `budget`-token context windows, per shard.

    `pack_sequences` above is the GPT-style concatenate-then-chunk layout
    where a document may straddle packs; an SFT/dialogue corpus must never
    split a conversation mid-context, so this packs at conversation
    granularity: shard-ordered next-fit (a conversation opens a new pack
    when it doesn't fit the current fill). Conversations larger than the
    budget get a pack of their own, flagged `oversize` (truncate/window
    downstream — silently dropping them would bias against long dialogues).

    Scale: per-conv token totals are ONE hash aggregate; the sequential
    next-fit state lives inside applyInPandas per SHARD (fill counter +
    pack counter — O(1) state, conversations stream through in conv_id
    order), and shards are independent, so parallelism = shard count. No
    global ordering is ever required; at 10^12 turns pick shards ≈ 4-16×
    cluster parallelism. Deterministic: (shard, conv_id) order fixes the
    layout, so reruns produce byte-identical packs (resume/caching safe).
    """
    from ..operators.textstats import tokens as _ws_tokens

    # default shard key: engine-portable md5-derived hash mod n_shards.
    # The previous last-character cast was a trap — under ANSI a
    # non-digit suffix ('conv_abc', UUIDs ending a-f) CRASHES the cast,
    # and without ANSI every such conversation collapsed into one NULL
    # shard whose sequential next-fit loop then ran single-threaded over
    # the whole corpus (round-5 review)
    shard = (
        shard_col
        if shard_col is not None
        else F.pmod(
            F.conv(F.substring(F.md5(F.col(id_col)), 1, 4), 16, 10).cast("int"),
            F.lit(n_shards),
        )
    )
    toks = (
        df.select(
            shard.alias("shard"),
            F.col(id_col).alias("conv_id"),
            F.size(_ws_tokens(F.col(text_col))).cast("bigint").alias("t"),
        )
        .groupBy("shard", "conv_id")
        .agg(F.sum("t").alias("n_tokens"))
    )

    schema = (
        "shard int, conv_id string, n_tokens bigint, pack_id bigint, "
        "pack_pos bigint, fill bigint, oversize boolean"
    )

    def _next_fit(pdf):
        import pandas as pd

        pdf = pdf.sort_values("conv_id").reset_index(drop=True)
        n = pdf["n_tokens"].to_numpy()
        pack = [0] * len(pdf)
        pos = [0] * len(pdf)
        fill_out = [0] * len(pdf)
        cur_pack, cur_fill, cur_pos = 0, 0, 0
        for i in range(len(pdf)):
            if i > 0 and cur_fill + int(n[i]) > budget:
                cur_pack += 1
                cur_fill = 0
                cur_pos = 0
            cur_fill += int(n[i])
            pack[i], pos[i], fill_out[i] = cur_pack, cur_pos, cur_fill
            cur_pos += 1
        return pd.DataFrame(
            {
                "shard": pdf["shard"],
                "conv_id": pdf["conv_id"],
                "n_tokens": pdf["n_tokens"],
                "pack_id": pack,
                "pack_pos": pos,
                "fill": fill_out,
                "oversize": pdf["n_tokens"] > budget,
            }
        )

    return toks.groupBy("shard").applyInPandas(_next_fit, schema)


def weighted_sample(
    df: DataFrame,
    weight: Column,
    k: int,
    id_col: str = "doc_id",
    seed: str = "ws1",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each row draws a reproducible uniform from the
    portable 60-bit hash of (seed, id), gets key = -ln(u)/w — an
    Exp(rate=w) draw — and the k SMALLEST keys win (the exponential
    race: heavier rates finish sooner), inclusion probability
    proportional to weight, exactly the reservoir rule (u^(1/w)
    max-form log-transformed), but with zero RNG state so every engine
    and every rerun selects the identical sample (resume/caching safe).
    Rows with weight <= 0 or NULL never win.

    Scale: a scan-side projection plus ONE top-k (window row_number,
    WindowGroupLimit ships at most k rows per map task) — no global sort
    of the corpus.
    """
    from .textstats import h60

    u = (h60(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))) + 1).cast(
        "double"
    ) / F.lit(float(2**60))
    key = -F.log(u) / weight
    t = df.withColumn("_wkey", key).filter(
        weight.isNotNull() & (weight > 0) & F.col("_wkey").isNotNull()
    )
    w = Window.partitionBy(F.lit(1)).orderBy(F.col("_wkey").asc(), F.col(id_col))
    return (
        t.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .drop("_wkey")
    )


# Default public-suffix subset for registrable-domain extraction. The real
# Mozilla PSL is ~10k rules; inline what the fixture + common crawl hosts
# need and let callers pass the full list (it compiles to the same literal
# array — ~10k entries is still a cheap broadcast-free projection).
PUBLIC_SUFFIXES: tuple[str, ...] = (
    "com", "org", "net", "io", "dev", "edu", "gov", "mil", "info", "biz",
    "co.uk", "ac.uk", "org.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "co.in", "co.kr",
    "github.io", "gitlab.io", "blogspot.com", "herokuapp.com",
)


def registrable_domain(
    df: DataFrame,
    host_col: str = "uf_domain",
    out_col: str = "rd_domain",
    public_suffixes: "tuple[str, ...] | list[str]" = PUBLIC_SUFFIXES,
) -> DataFrame:
    """eTLD+1 extraction (the public-suffix-list algorithm, subset rules):
    the registrable domain is the label left of the LONGEST matching
    public suffix plus that suffix; a host that IS a public suffix has no
    registrable domain (NULL); an unknown TLD falls back to the PSL
    default rule (`*` — the last label is the suffix, so eTLD+1 is the
    last two labels). Per-domain caps, per-domain dedup, and domain
    mixture accounting (RefinedWeb/FineWeb style) all key on this.

    Scale design: the host's <=n label-suffixes are generated once from a
    materialized label-array column (materialized exactly to dodge the
    projection-collapse trap where Catalyst would re-split the host once
    per suffix), matched against the suffix set as an inlined literal
    array — a pure projection, zero joins, zero shuffle at any corpus
    size. Case-normalize and IDNA-decode hosts upstream.
    """
    lits = F.array(*[F.lit(s.lower()) for s in public_suffixes])
    d = df.withColumn("_rd_labels", F.split(F.lower(F.col(host_col)), r"\."))
    labels, n = F.col("_rd_labels"), F.size("_rd_labels")
    sufs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )
    # try_element_at: no suffix match -> NULL (ANSI element_at would abort)
    longest = F.try_element_at(F.filter(sufs, lambda s: F.array_contains(lits, s)), F.lit(1))
    n_suf = F.size(F.split(longest, r"\."))
    reg = (
        F.when(F.col(host_col).isNull() | (n < 1), F.lit(None).cast("string"))
        .when(longest.isNull(), F.when(n >= 2, F.array_join(F.slice(labels, n - 1, 2), ".")))
        .when(longest == F.lower(F.col(host_col)), F.lit(None).cast("string"))
        .otherwise(F.array_join(F.slice(labels, n - n_suf, n_suf + 1), "."))
    )
    return d.withColumn(out_col, reg).drop("_rd_labels")


def domain_cap(
    df: DataFrame,
    host_col: str,
    cap: int,
    order_col: str,
    public_suffixes: "tuple[str, ...] | list[str]" = PUBLIC_SUFFIXES,
) -> DataFrame:
    """Per-registrable-domain document cap: keep at most ``cap`` documents
    per eTLD+1, chosen deterministically by ``order_col`` (pass a hash
    column for an unbiased sample, an id for reproducible fixtures). Rows
    without a registrable domain (bare public suffixes, IPs, malformed
    hosts) are kept — they cannot be attributed to a domain, and dropping
    them would silently bias against non-DNS sources.

    The domain-cap is how web pipelines stop a single boilerplate-heavy
    site from dominating the corpus (RefinedWeb caps, C4's per-domain
    dedup). One window shuffle keyed on rd_domain; a pathological
    mega-domain skews that shuffle — at 100 TB pre-filter such domains
    with `heavy_hitters` (operators/sketches.py) and route them through
    a dedicated sampled path instead of the window.
    """
    from pyspark.sql.window import Window

    d = registrable_domain(df, host_col, public_suffixes=public_suffixes)
    # NULL-domain rows get a synthetic per-order partition key: the
    # window evaluates for EVERY row regardless of the F.when gate, and
    # partitioning the (often-huge: IPs, bare suffixes, malformed hosts)
    # NULL class on one key funneled it all through a single task whose
    # rank was then discarded (round-5 review). The \x00 prefix cannot
    # collide with a real domain; the when-branch still forces rank 1
    # for NULL rows even when two share an order value.
    part = F.coalesce(
        F.col("rd_domain"), F.concat(F.lit("\x00"), F.col(order_col).cast("string"))
    )
    w = Window.partitionBy(part).orderBy(F.col(order_col).asc())
    rank = F.when(F.col("rd_domain").isNull(), F.lit(1)).otherwise(
        F.row_number().over(w)
    )
    return d.withColumn("dc_keep", rank <= F.lit(cap))


def canonicalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "canon_text",
) -> DataFrame:
    """Unicode canonicalization ahead of exact/near dedup: NFC-normalize
    (composed and decomposed accent sequences become one byte form),
    lowercase, collapse all whitespace runs to single spaces, trim. Two
    documents that differ only in combining-character form, case, or
    spacing must hash to the SAME dedup key — without this, exact dedup
    silently misses the most common crawl-duplicate class (same page,
    different normalization at the source).

    Arrow-batched pandas UDF (Unicode normalization has no Catalyst
    builtin); the per-row work is a C-level str pass, and the column
    feeds straight into h60/minhash keys. The DuckDB oracle mirrors it
    with nfc_normalize + lower + regexp ws collapse — both engines
    implement the same Unicode standard, so equality is exact.
    """
    @F.pandas_udf(T.StringType())
    def canon(s: pd.Series) -> pd.Series:
        import unicodedata

        def one(x):
            if x is None:
                return None
            return " ".join(unicodedata.normalize("NFC", x).lower().split())

        return s.map(one)

    return df.withColumn(out_col, canon(F.col(text_col)))


# robots.txt gate: (domain, path prefix, allow) rules with longest-match
# semantics (REP / RFC 9309: the most specific rule wins; on a tie the
# ALLOW rule wins). The crawl-compliance filter of a web corpus pipeline.
def robots_gate(
    df: DataFrame,
    host_col: str,
    path_col: str,
    rules: DataFrame,
) -> DataFrame:
    """Evaluate robots rules per URL. ``rules`` columns: domain (exact
    host match — resolve hosts to registrable domains upstream if rules
    are domain-wide), prefix (path prefix), allow (boolean). No matching
    rule -> allowed (REP default).

    Scale design: rules broadcast (a robots corpus is small relative to
    documents) and equi-join on domain, so each URL meets only ITS
    domain's rules (bounded fan-out, no nested loop); prefix match
    filters, then one aggregation picks the winner by (prefix length,
    allow) — max_by with a struct ordering key, no window needed. Adds
    rg_allow (boolean) and rg_rule (winning prefix, NULL when no rule
    matched).
    """
    matched = (
        df.select(F.col(host_col).alias("_rg_domain"), F.col(path_col).alias("_rg_path"))
        .dropDuplicates(["_rg_domain", "_rg_path"])
        .join(
            F.broadcast(rules.select(F.col("domain").alias("_rg_domain"), "prefix", "allow")),
            "_rg_domain",
        )
        .filter(F.col("_rg_path").startswith(F.col("prefix")))
    )
    verdicts = matched.groupBy("_rg_domain", "_rg_path").agg(
        F.max_by(
            F.struct(F.col("allow").alias("a"), F.col("prefix").alias("p")),
            F.struct(F.length("prefix").alias("l"), F.col("allow").alias("a")),
        ).alias("_rg_win")
    )
    out = df.join(
        verdicts,
        (F.col(host_col) == F.col("_rg_domain")) & (F.col(path_col) == F.col("_rg_path")),
        "left",
    ).drop("_rg_domain", "_rg_path")
    return (
        out.withColumn("rg_allow", F.coalesce(F.col("_rg_win.a"), F.lit(True)))
        .withColumn("rg_rule", F.col("_rg_win.p"))
        .drop("_rg_win")
    )


def ccnet_thresholds(
    scored: DataFrame,
    lang_col: str = "lang",
    score_col: str = "lm_logprob",
) -> DataFrame:
    """Per-language head/middle cut points for ccnet_buckets' threshold
    path: the exact 1/3 and 2/3 quantiles of the LM score within each
    language (CCNet trains these on a sample, then applies them to the
    full corpus). Output: (lang, t_head, t_mid) — one tiny row per
    language, broadcastable. Run this on a SAMPLE at 100 TB; exact
    `percentile` needs the group's values in memory, which is fine for a
    per-language sample and wrong for the full corpus.
    """
    return scored.groupBy(F.col(lang_col).alias("lang")).agg(
        F.percentile(F.col(score_col), F.lit(2.0 / 3.0)).alias("t_head"),
        F.percentile(F.col(score_col), F.lit(1.0 / 3.0)).alias("t_mid"),
    )


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 32,
    thresholds: DataFrame | None = None,
    score_col: str = "lm_logprob",
    bucket_col: str = "ppl_bucket",
) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.
    2020): score every document with the corpus-trained LM
    (lm_quality_score), then split each LANGUAGE into three equal tiers —
    'head' = most corpus-typical third (lowest perplexity / highest mean
    logprob), 'middle', 'tail'. Pretraining recipes keep head+middle and
    drop or downweight tail.

    Two paths, same contract:

    * thresholds=None (exact / oracle path): ntile(3) over a window
      partitioned by language ordered by (score DESC NULLS LAST, id) —
      deterministic total order, bit-equal against the SQL oracle because
      the LM scores themselves are decimal-quantized (see
      lm_quality_score). Scale caveat: a window partitioned by language
      sends EACH language to one task — per-language sort concentrates on
      the largest language. Fine to ~10^8 rows/language; at 100 TB use
      the threshold path.
    * thresholds=<DataFrame(lang, t_head, t_mid)> (scale path): broadcast
      the tiny per-language cut-point table (train it on a sample with
      ccnet_thresholds) and bucket by comparison — a scan-speed
      projection, no sort, no per-language skew. This is CCNet's actual
      production shape: percentile cut points come from the LM training
      sample, not a full-corpus sort.

    Unscoreable docs (<2 tokens → NULL score) land in 'tail' on both
    paths. On the exact path they are forced to 'tail' but still take up
    ntile(3) slots: NULLS LAST keeps them at the end of the language's
    window, so the thirds are thirds of ALL the language's docs, not of
    its scored docs — in a NULL-heavy language fewer scored docs reach
    'head'/'middle' than a tiling of scored docs alone would give. The
    SQL oracle tiles the same way. Output adds score_col and bucket_col.
    """
    scored = lm_quality_score(df, id_col=id_col, text_col=text_col, n_buckets=n_buckets)
    if thresholds is None:
        w = Window.partitionBy(F.col(lang_col)).orderBy(
            F.col(score_col).desc_nulls_last(), F.col(id_col)
        )
        tile = F.ntile(3).over(w)
        # NULL-scored docs go to 'tail' DIRECTLY — ntile(3) would tile
        # them like any other row (a NULL-scored doc can land 'middle',
        # or even 'head' in a 2-doc language), diverging from the
        # threshold path where the NULL comparison falls through to
        # 'tail' (round-5 review; pins the documented contract)
        bucket = (
            F.when(F.col(score_col).isNull(), F.lit("tail"))
            .when(tile == 1, F.lit("head"))
            .when(tile == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
        return scored.withColumn(bucket_col, bucket)
    t = F.broadcast(thresholds.select(F.col("lang").alias("_cc_lang"), "t_head", "t_mid"))
    out = scored.join(t, F.col(lang_col) == F.col("_cc_lang"), "left")
    bucket = (
        F.when(F.col(score_col) >= F.col("t_head"), F.lit("head"))
        .when(F.col(score_col) >= F.col("t_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.withColumn(bucket_col, bucket).drop("_cc_lang", "t_head", "t_mid")


def nb_hash_classifier(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    score_col: str = "nb_score",
    pred_col: str = "nb_pred",
) -> DataFrame:
    """Hashed multinomial Naive-Bayes text classifier — the fastText-shaped
    trainable quality/label filter (Joulin et al. 2017: linear bag-of-words
    over hashed tokens) that curation recipes use to keep "looks like the
    positive seed" documents. Train and apply in the same closed form:

    Train (two aggregations, no iterations): hash every token into
    `n_buckets` buckets (portable h60 % B), count per (bucket, class),
    and turn counts into per-bucket log-odds weights with add-one
    smoothing: w[b] = ln((c_pos+1)/(T_pos+B)) − ln((c_neg+1)/(T_neg+B)).
    Class prior = ln((N_pos+1)/(N_neg+1)) over document counts.

    Apply: score(doc) = prior + Σ_tokens w[bucket(token)]; pred = score>0.
    A document with no tokens scores the prior alone.

    Scale (10^12 docs): training is ONE hash aggregation onto ≤B·2 cells
    (map-side combine collapses each partition to ≤B rows before the
    shuffle); the model is B log-odds values — collected driver-side,
    quantized to decimal(18,9) (the lm_quality_score convention that keeps
    Spark and the DuckDB oracle bit-equal), and inlined as a literal array,
    so scoring is explode → element_at → one groupBy(doc): no model join,
    no UDF, no broadcast. Like CCNet's LM, at 100 TB you train on a sample
    and apply to the corpus; the closed form makes sample-train trivially
    cheap.

    Reference anchor: extends the collector's static quality gates
    (processor/filterprocessor, logdedupprocessor) with the *trainable*
    membership filter a training-data pipeline needs; no collector
    equivalent exists — this is datapipe territory.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q9 = lambda x: Decimal(math.log(x)).quantize(  # noqa: E731
        Decimal("1e-9"), rounding=ROUND_HALF_UP
    )

    y = F.coalesce(F.col(label_col).cast("boolean"), F.lit(False))
    toks = df.select(
        F.col(id_col).alias("_id"),
        y.alias("_y"),
        F.explode(tokens(F.col(text_col))).alias("_tok"),
    ).select(
        "_id", "_y", F.pmod(h60(F.col("_tok")), F.lit(n_buckets)).cast("int").alias("_b")
    )

    counts = {
        (r["_b"], r["_y"]): r["n"]
        for r in toks.groupBy("_b", "_y").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    t_pos = sum(n for (_, yy), n in counts.items() if yy)
    t_neg = sum(n for (_, yy), n in counts.items() if not yy)
    n_pos = df.where(y).count()
    n_neg = df.count() - n_pos
    weights = [
        q9((counts.get((b, True), 0) + 1.0) / (t_pos + n_buckets))
        - q9((counts.get((b, False), 0) + 1.0) / (t_neg + n_buckets))
        for b in range(n_buckets)
    ]
    prior = q9((n_pos + 1.0) / (n_neg + 1.0))

    arr = F.array(*[F.lit(w).cast("decimal(19,9)") for w in weights])
    doc_sum = toks.groupBy("_id").agg(
        F.sum(F.element_at(arr, F.col("_b") + 1)).alias("_sw")
    )
    score = (
        F.lit(prior).cast("decimal(19,9)")
        + F.coalesce(F.col("_sw"), F.lit(0).cast("decimal(19,9)"))
    ).cast("double")
    return (
        df.join(doc_sum.withColumnRenamed("_id", id_col), on=id_col, how="left")
        .withColumn(score_col, score)
        .withColumn(pred_col, F.col(score_col) > 0)
        .drop("_sw")
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list,
    sensitive_col: str | None = None,
    k: int = 5,
) -> DataFrame:
    """k-anonymity equivalence-class audit (Sweeney 2002) over a chosen
    quasi-identifier combination — the release gate a training-data
    pipeline runs AFTER PII scrubbing (pii_scrub masks direct
    identifiers; this measures re-identification risk from the indirect
    ones). One row per equivalence class: `class_size` (the class's k),
    `l_diversity` = distinct sensitive values when `sensitive_col` is
    given (Machanavajjhala 2007 — a k-anonymous class is still unsafe if
    everyone in it shares the sensitive value), and `at_risk` =
    class_size < k. Callers generalize quasi-identifiers (bucket, trunc,
    coarsen) in the projection they pass in — generalization is an
    expression, not a config.

    Scale: ONE hash aggregation on the quasi-identifier key with
    map-side combine; distinct-count rides the same shuffle. At 10^12
    rows the class table is as small as the quasi-space — the audit is
    strictly cheaper than the groupbyattrs aggregates the pipeline
    already runs."""
    aggs = [F.count(F.lit(1)).alias("class_size")]
    if sensitive_col is not None:
        aggs.append(F.count_distinct(F.col(sensitive_col)).alias("l_diversity"))
    out = df.groupBy(*quasi_cols).agg(*aggs)
    return out.withColumn("at_risk", F.col("class_size") < k)


def k_anonymity_summary(
    df: DataFrame, quasi_cols: list, k: int = 5
) -> DataFrame:
    """Corpus-level k-anonymity verdict: (n_classes, k_min, rows_at_risk,
    pct_at_risk) — the single-row gate a release pipeline asserts on
    (pct_at_risk == 0 ships; anything else goes back to generalization).
    Two chained aggregations over the class table; ratios rounded to 6
    (the engine-portability convention)."""
    classes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("n"))
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("n").alias("k_min"),
        F.coalesce(
            F.sum(F.when(F.col("n") < k, F.col("n"))), F.lit(0)
        ).alias("rows_at_risk"),
        F.round(
            F.coalesce(F.sum(F.when(F.col("n") < k, F.col("n"))), F.lit(0))
            / F.sum("n"),
            6,
        ).alias("pct_at_risk"),
    )


def temperature_mixture_rates(
    df: DataFrame,
    alpha: float = 0.7,
    domain_col: str = "source",
    target_total: int | None = None,
) -> dict[str, float]:
    """Temperature-scaled mixture rates (the multilingual sampling rule of
    mBERT/XLM-R, Conneau et al. 2020): p_d ∝ n_d^alpha, so alpha < 1
    flattens the domain distribution — tail domains are upsampled, head
    domains downsampled. Returns per-domain rates for mixture_sample /
    upsample_repeat: rate_d = p_d · T / n_d with T = target_total
    (default: the current corpus size, preserving expected row count).

    Driver-side closed form over the tiny per-domain count table (one
    hash agg + collect of #domains rows), every float quantized to 6
    places at each step (pow → ordered sum → ratio) so the resulting
    rates are bit-identical to the SQL oracle's ordered-fold recompute."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q6 = lambda x: float(  # noqa: E731
        Decimal(x).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )
    counts = {
        r["d"]: r["n"]
        for r in df.groupBy(F.col(domain_col).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    t = target_total if target_total is not None else total
    w = {d: q6(math.pow(n, alpha)) for d, n in counts.items()}
    sw = q6(sum(w[d] for d in sorted(w)))  # ordered fold, engine-portable
    return {d: q6(q6(w[d] / sw) * t / counts[d]) for d in sorted(counts)}


def upsample_repeat(
    df: DataFrame,
    rates: dict[str, float],
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "up",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Epoch-aware up/down-sampling to arbitrary positive rates — the half
    of the data-recipe story mixture_sample (rates ≤ 1) can't express: a
    rate of 2.3 repeats every row twice and keeps a deterministic 30%
    hash-gated slice a third time (fractional epochs, Muennighoff et al.
    2023 data-constrained scaling). Copies carry `copy_col` = 0..k-1 so a
    downstream shuffle/pack can spread them across shards.

    Pure projection + bounded explode: n_copies(row) = floor(rate) +
    [h60(salt‖key) % 1e6 < frac·1e6], then explode(sequence(...)) — no
    shuffle, no RNG state, resumable (the same row always draws the same
    verdict, the mixture_sample contract). Unlisted domains default to
    rate 1.0 (pass-through)."""
    micros = {d: int(round(r * 1_000_000)) for d, r in rates.items()}
    if any(m < 0 for m in micros.values()):
        raise ValueError("rates must be non-negative")
    base = F.lit(1_000_000)
    expr = None
    for d in sorted(micros):
        cond = F.col(domain_col) == d
        expr = F.when(cond, micros[d]) if expr is None else expr.when(cond, micros[d])
    rate_u = (expr.otherwise(base) if expr is not None else base).cast("long")
    whole = (rate_u / base).cast("long")
    frac = rate_u % base
    gate = (
        F.pmod(h60(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))), base)
        < frac
    ).cast("long")
    n_copies = (whole + gate).alias("_n_copies")
    return (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1)))
        .drop("_n_copies")
    )


# --- differentially-private aggregate release --------------------------------
def _laplace_noise(key: Column, scale: float, seed: str) -> Column:
    """Deterministic Laplace(scale) noise from the portable 60-bit hash:
    u = u60(key:seed) - 0.5 ∈ [-0.5, 0.5), noise = -scale·sign(u)·ln(1-2|u|)
    (inverse-CDF). Seeded by (key, seed) so releases are reproducible AND
    engine-portable — the DuckDB oracle draws the identical noise. The
    1-2|u|=0 edge (probability 2^-60) is floored at 1e-18 instead of ±inf."""
    from .textstats import u60

    u = u60(F.concat_ws("\x1f", key, F.lit(seed))) - 0.5
    mag = F.greatest(F.lit(1.0) - 2.0 * F.abs(u), F.lit(1e-18))
    return -F.lit(scale) * F.signum(u) * F.log(mag)


def dp_noisy_counts(
    df: DataFrame,
    keys: list[str],
    epsilon: float = 1.0,
    seed: str = "dp",
) -> DataFrame:
    """ε-DP group-count release via the Laplace mechanism: count per key
    group + Laplace(1/ε) noise (count sensitivity = 1 under add/remove-one).

    Completes the privacy family k_anonymity_audit starts: the audit says
    which quasi-identifier classes are too small to publish; this releases
    the histogram itself with a per-group noise draw instead of
    suppressing. Noise is seeded from the group key — deterministic
    replays release the SAME value (re-querying must not refine the
    estimate by averaging fresh draws).

    ONE hash aggregation (map-side combined) + a noise projection; the
    noise never touches row data, so the plan is the plain count at any
    scale."""
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    gk = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(k).cast("string"), F.lit("\x00null")) for k in keys]
    )
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("true_n"))
        .select(
            *keys,
            F.round(
                F.col("true_n") + _laplace_noise(gk, 1.0 / epsilon, seed), 6
            ).alias("noisy_n"),
        )
    )


def dp_noisy_sum(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    clip: float,
    epsilon: float = 1.0,
    seed: str = "dp",
) -> DataFrame:
    """ε-DP group-sum release: per-row contributions are CLIPPED to
    [0, clip] first (bounding sensitivity — without the clip one outlier
    row reveals itself through the sum), then Laplace(clip/ε) noise is
    added per group. Same seeding contract as dp_noisy_counts."""
    if epsilon <= 0 or clip <= 0:
        raise ValueError("epsilon and clip must be positive")
    v = F.least(F.greatest(F.col(value_col).cast("double"), F.lit(0.0)), F.lit(clip))
    gk = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(k).cast("string"), F.lit("\x00null")) for k in keys]
    )
    return (
        df.groupBy(*keys)
        .agg(F.sum(v.cast("decimal(18,6)")).cast("double").alias("true_sum"))
        .select(
            *keys,
            F.round(
                F.col("true_sum") + _laplace_noise(gk, clip / epsilon, seed), 6
            ).alias("noisy_sum"),
        )
    )


# --- classifier evaluation: lift table + AUC --------------------------------
def score_decile_lift(
    df: DataFrame,
    score_col: str,
    label_col: str,
    buckets: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Calibration/lift table by score decile: rank rows by (score DESC,
    id) into equal-frequency buckets; per bucket the positive rate and the
    cumulative gains curve (what fraction of ALL positives the top-k
    deciles capture). The eval every quality-filter threshold decision
    reads — a well-ordered classifier has monotone pos_rate and a gains
    curve far above the diagonal.

    Everything derives from integer counts (no transcendental transforms
    of the score), so results are exact across engines. The decile comes
    from the distributed two-pass ntile (operators/rank.py — range
    buckets + broadcast offsets, bit-equal to Spark's ntile under this
    total order, no single-partition sort even at corpus scale) + one
    hash agg + one small cumulative window over `buckets` rows."""
    from .rank import global_ntile

    tiled, _total = global_ntile(
        df.select(
            F.col(score_col).alias("_s"),
            F.col(id_col).alias("_i"),
            F.col(label_col).cast("int").alias("_y"),
        ),
        [("_s", "desc"), ("_i", "asc")],
        buckets,
        out_col="decile",
    )
    d = tiled.select("decile", "_y")
    per = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").cast("bigint").alias("n_pos"),
    )
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    return per.select(
        "decile",
        "n",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n"), 6).alias("pos_rate"),
        F.round(
            F.sum("n_pos").over(cum) / F.sum("n_pos").over(tot), 6
        ).alias("cum_gain"),
    )


def auc_rank_sum(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney rank-sum identity:
    AUC = (Σ avg-ranks of positives − P(P+1)/2) / (P·N). Tied scores get
    the average rank of their tie group — cnt_below + (cnt_tied+1)/2 —
    the standard mid-rank correction, all integer-derived and
    engine-exact. No pairwise comparison (the naive AUC is a P×N cross
    join) and, since round 4, no global sort window either: one hash agg
    per distinct score, then the two-pass distributed prefix sum
    (operators/rank.py) supplies each tie group's below-count, so the
    whole mid-rank computation runs on the (usually tiny) distinct-score
    rollup with no single-partition stage."""
    from .rank import global_prefix_sum

    y = F.col(label_col).cast("int")
    g = df.groupBy(F.col(score_col).alias("_s")).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(y).alias("_pos"),
    )
    ps, _grand = global_prefix_sum(g, [("_s", "asc")], "_cnt", out_col="_below")
    mid = F.col("_below") + (F.col("_cnt") + 1) / 2.0
    agg = ps.agg(
        F.sum(F.col("_pos") * mid).alias("rank_pos"),
        F.sum("_pos").cast("bigint").alias("p"),
        F.sum(F.col("_cnt") - F.col("_pos")).cast("bigint").alias("n"),
    )
    return agg.select(
        "p",
        "n",
        F.round(
            F.when(
                (F.col("p") > 0) & (F.col("n") > 0),
                (F.col("rank_pos") - F.col("p") * (F.col("p") + 1) / 2.0)
                / (F.col("p") * F.col("n")),
            ),
            6,
        ).alias("auc"),
    )


# --- label QA: majority vote + chance-corrected agreement --------------------
def majority_vote(
    votes: DataFrame,
    item_col: str,
    rater_col: str,
    label_col: str,
) -> DataFrame:
    """Per-item consensus over a (item, rater, label) vote table: the
    modal label (ties broken by label string order — deterministic), its
    support, and the per-item pairwise agreement
    P_i = Σ_c n_c(n_c−1) / (n(n−1)) — the fraction of rater PAIRS that
    agree. Duplicate (item, rater, label) submissions collapse to ONE
    vote first — a rater re-submitting must not inflate support or count
    a self-pair as agreement. Two hash aggs + one WindowGroupLimit
    (rank over per-item label counts)."""
    counts = (
        votes.select(item_col, rater_col, label_col)
        .distinct()
        .groupBy(item_col, label_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy(item_col).orderBy(F.col("_c").desc(), F.col(label_col))
    ranked = counts.select(
        item_col,
        label_col,
        "_c",
        F.row_number().over(w).alias("_rn"),
        F.sum("_c").over(Window.partitionBy(item_col)).alias("_n"),
        F.sum(F.col("_c") * (F.col("_c") - 1))
        .over(Window.partitionBy(item_col))
        .alias("_agree_pairs"),
    )
    return ranked.filter(F.col("_rn") == 1).select(
        F.col(item_col),
        F.col(label_col).alias("majority_label"),
        F.col("_c").cast("bigint").alias("support"),
        F.col("_n").cast("bigint").alias("n_raters"),
        F.when(F.col("_n") > 1, F.round(F.col("_agree_pairs") / (F.col("_n") * (F.col("_n") - 1)), 6))
        .alias("agreement"),
    )


def fleiss_kappa(
    votes: DataFrame,
    item_col: str,
    rater_col: str,
    label_col: str,
) -> DataFrame:
    """Chance-corrected inter-rater agreement, generalized to varying
    raters-per-item: observed agreement is pooled over rater PAIRS
    (Σ_i Σ_c n_ic(n_ic−1)) / (Σ_i n_i(n_i−1)) — exact integer sums, not a
    mean of per-item ratios, so items with more raters weigh as many
    pairs — and expected agreement is Σ_c p_c² from the pooled label
    marginals. kappa = (Po − Pe)/(1 − Pe). Single-row output
    (n_items, n_votes, po, pe, kappa); everything up to the final
    division is integer-exact."""
    counts = (
        votes.select(item_col, rater_col, label_col)
        .distinct()
        .groupBy(item_col, label_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    per_item = counts.groupBy(item_col).agg(
        F.sum("_c").alias("_n"),
        F.sum(F.col("_c") * (F.col("_c") - 1)).alias("_ap"),
    )
    obs = per_item.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("_n").cast("bigint").alias("n_votes"),
        F.sum("_ap").cast("bigint").alias("_agree"),
        F.sum(F.col("_n") * (F.col("_n") - 1)).cast("bigint").alias("_pairs"),
    )
    marg = counts.groupBy(label_col).agg(F.sum("_c").alias("_lc"))
    # double promotion BEFORE the products: bigint*bigint wraps (or
    # ANSI-errors) once votes exceed ~3e9 — squarely inside the 1e12-row
    # design regime; double products are exact below 2^53, so small-corpus
    # oracle values are bit-identical (round-5 review)
    pe = marg.agg(
        (
            F.sum(F.col("_lc").cast("double") * F.col("_lc"))
            / (F.sum("_lc").cast("double") * F.sum("_lc"))
        ).alias("_pe")
    )
    # scalar×scalar combine: literal-key equi-join of two 1-row aggregates
    return (
        obs.withColumn("_k", F.lit(1))
        .join(pe.withColumn("_k", F.lit(1)), "_k")
        .select(
        "n_items",
        "n_votes",
        F.round(F.col("_agree") / F.col("_pairs"), 6).alias("po"),
        F.round(F.col("_pe"), 6).alias("pe"),
        F.round(
            (F.col("_agree") / F.col("_pairs") - F.col("_pe")) / (1.0 - F.col("_pe")),
            6,
        ).alias("kappa"),
        )
    )


def effective_sample_size(
    df: DataFrame,
    weight_col: str,
    by: list[str] | None = None,
) -> DataFrame:
    """Kish effective sample size of a weighted corpus: (Σw)² / Σw² —
    the diagnostic every importance-weighted mixture (dsir_weights,
    temperature_mixture_rates, quality-weighted sampling) needs before
    training on the weights: ESS/n near 1 means the weights barely matter;
    near 0 means a handful of documents dominate the gradient.

    Weights are quantized to decimal(18,9) before the two power sums, so
    both sums are exact regardless of either engine's float-summation
    order (the dsir log-ratio convention). One hash aggregation."""
    w = F.round(F.col(weight_col).cast("double"), 9).cast("decimal(18,9)")
    grouped = df.groupBy(*by) if by else df.groupBy()
    agg = grouped.agg(
        F.count(F.col(weight_col)).alias("n"),
        F.sum(w).cast("decimal(28,9)").alias("_sw"),
        F.sum(w * w).cast("decimal(38,18)").alias("_sw2"),
    )
    ess = (
        F.col("_sw").cast("double") * F.col("_sw").cast("double")
        / F.col("_sw2").cast("double")
    )
    return agg.select(
        *(by or []),
        "n",
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.col("n"), 6).alias("ess_frac"),
    )


def proportional_allocation(
    df: DataFrame,
    strata: list[str],
    budget: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Largest-remainder (Hamilton) allocation of an integer sample budget
    across strata — the step BEFORE stratified/weighted sampling when the
    per-stratum take should track corpus shares exactly: quota_i =
    budget · share_i; every stratum gets floor(quota) and the leftover
    seats go to the largest fractional remainders (ties by stratum key,
    deterministic). Guarantees Σ alloc == budget exactly and |alloc −
    quota| < 1 — naive per-stratum round() violates both.

    Shares come from row counts, or Σ weight_col (token budgets: weight =
    doc token count allocates tokens, not docs). Integer-exact: quotas
    are exact rationals compared via cross-multiplication — floor and
    remainder-rank never touch a float. One hash agg over strata + one
    rank window over the (tiny) strata table."""
    if budget < 0:
        raise ValueError("budget must be non-negative")
    w = F.count(F.lit(1)) if weight_col is None else F.sum(F.col(weight_col))
    per = df.groupBy(*strata).agg(w.cast("bigint").alias("_w"))
    tot = per.agg(F.sum("_w").cast("bigint").alias("_tw")).withColumn("_k", F.lit(1))
    j = per.withColumn("_k", F.lit(1)).join(tot, "_k")
    # floor(budget * w / tw) and remainder via INTEGER div/mod — a double
    # division here can misplace floor() at the boundary. w*budget must
    # fit int64: for token-weighted allocations at extreme scale,
    # pre-divide weights (shares only need relative magnitudes).
    flr = F.expr(f"(_w * CAST({budget} AS BIGINT)) div _tw")
    rem = F.expr(f"(_w * CAST({budget} AS BIGINT)) % _tw")
    staged = j.select(*strata, "_w", "_tw", flr.alias("_flr"), rem.alias("_rem"))
    # leftover seats = budget - Σ floor; rank remainders desc, strata asc
    leftover = staged.agg(
        (F.lit(budget) - F.sum("_flr")).cast("bigint").alias("_left")
    ).withColumn("_k", F.lit(1))
    ranked = (
        staged.withColumn("_k", F.lit(1))
        .join(leftover, "_k")
        .withColumn(
            "_rnk",
            F.row_number().over(
                Window.orderBy(F.col("_rem").desc(), *[F.col(c) for c in strata])
            ),
        )
    )
    return ranked.select(
        *strata,
        F.col("_w").alias("stratum_weight"),
        (F.col("_flr") + (F.col("_rnk") <= F.col("_left")).cast("int")).cast("bigint").alias("alloc"),
    )


def confusion_matrix(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Multiclass confusion counts: one row per (label, pred) pair that
    occurs, with the count — the raw artifact behind every classifier
    eval. One hash aggregation; integer-exact."""
    return (
        df.groupBy(F.col(label_col).alias("label"), F.col(pred_col).alias("pred"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def classification_report(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision / recall / F1 + support over a multiclass
    prediction table (the sklearn classification_report shape, computed
    distributed). Classes = union of observed labels and predictions, so
    a class the model never predicts still reports (precision NULL,
    recall 0). All counts integer-exact; the three ratios are the only
    doubles. Two hash aggs + one outer join on class."""
    tp = (
        df.filter(F.col(label_col).eqNullSafe(F.col(pred_col)))
        .groupBy(F.col(label_col).alias("cls"))
        .agg(F.count(F.lit(1)).alias("_tp"))
    )
    actual = df.groupBy(F.col(label_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("_support")
    )
    predicted = df.groupBy(F.col(pred_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("_pred_n")
    )
    j = (
        actual.join(predicted, "cls", "full_outer")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("_support", F.lit(0)).cast("bigint").alias("support"),
            F.coalesce("_pred_n", F.lit(0)).cast("bigint").alias("n_predicted"),
            F.coalesce("_tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    precision = F.when(F.col("n_predicted") > 0, F.col("tp") / F.col("n_predicted"))
    recall = F.when(F.col("support") > 0, F.col("tp") / F.col("support"))
    f1 = F.when(
        precision.isNotNull() & recall.isNotNull() & ((precision + recall) > 0),
        2.0 * precision * recall / (precision + recall),
    )
    return j.select(
        "cls",
        "support",
        "n_predicted",
        "tp",
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    by: str,
    id_col: str,
    resolution: int = 100,
) -> DataFrame:
    """Quantile normalization across groups — the batch-effect correction
    for mixing per-source quality/perplexity scores whose scales aren't
    comparable: each row's value maps to the GLOBAL distribution's value
    at the same within-group rank fraction, so "top 10% of source A"
    and "top 10% of source B" land on the same normalized scale (the
    bioinformatics quantile-normalization shape, at corpus scale).

    Mechanics, all integer-exact (no float percent_rank boundary risk):
    within-group rank r of n rows → ladder bucket
    ceil((r−1)·R/(n−1)) (clamped to ≥1; single-row groups map to the
    global median bucket R/2); the global ladder is the max value per
    bucket of the SAME integer bucketing over the global rank — R
    step-quantiles. The global rank is the two-pass distributed
    row_number (operators/rank.py: range buckets + broadcast offsets —
    no single-partition sort, round-4 rewrite of the unpartitioned
    window flagged by the r3 verdict), the per-group rank a partitioned
    window, plus one broadcast join against the R-row ladder. R is
    CLAMPED to the global row count (round-5 review: with R > n the
    ladder misses buckets the group formula can produce and the inner
    join silently DROPPED those rows; clamping keeps every bucket
    non-empty, exact, and the default resolution usable on small
    inputs). Eager (the rank helper collects bucket offsets)."""
    if resolution < 2:
        raise ValueError("resolution must be >= 2")
    from .rank import global_row_number

    v = F.col(value_col)
    ranked, gn = global_row_number(
        df.select(v.alias("_v"), F.col(id_col).alias("_qid")),
        [("_v", "asc"), ("_qid", "asc")],
        out_col="_gr",
    )
    if gn == 0:
        return df.select(
            *df.columns,
            F.lit(None).cast("int").alias("q_bucket"),
            F.lit(None).cast("double").alias("norm_value"),
        ).where(F.lit(False))
    if gn == 1:
        # one global row: it IS the whole distribution — bucket 1, its
        # own value (the general machinery's single-row-group median
        # bucket R//2 would miss the one-entry ladder)
        return df.select(
            *df.columns,
            F.lit(1).cast("int").alias("q_bucket"),
            F.round(v.cast("double"), 6).alias("norm_value"),
        )
    resolution = min(resolution, gn)  # see docstring: R <= n by clamping
    ladder = (
        ranked.select(
            F.expr(f"CAST((_gr * {resolution} + {gn} - 1) div {gn} AS INT)").alias(
                "_bkt"
            ),
            "_v",
        )
        .groupBy("_bkt")
        .agg(F.max("_v").alias("_norm"))
    )
    ws = Window.partitionBy(by).orderBy(v.asc(), F.col(id_col))
    stot = Window.partitionBy(by)
    staged = df.select(
        "*",
        F.row_number().over(ws).alias("_r"),
        F.count(F.lit(1)).over(stot).alias("_n"),
    )
    # ceil((r-1)*R/(n-1)) in INTEGER space: (k*R + n-2) div (n-1)
    bkt = F.when(
        F.col("_n") > 1,
        F.greatest(
            F.lit(1),
            F.expr(f"((_r - 1) * {resolution} + _n - 2) div (_n - 1)"),
        ).cast("int"),
    ).otherwise(F.lit(resolution // 2).cast("int"))
    out = staged.withColumn("_bkt", bkt).join(broadcast(ladder), "_bkt")
    return out.select(
        *df.columns,
        F.col("_bkt").alias("q_bucket"),
        F.round(F.col("_norm").cast("double"), 6).alias("norm_value"),
    )
