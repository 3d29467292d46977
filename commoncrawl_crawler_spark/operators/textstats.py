"""Text-analysis operators over the documents table (training-data
tier; function kernels in functions/text.py). All Column-expression
based -- the whole pipeline stays in whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import text


from ..checkpointing import ckpt_eager, ckpt_lazy, stable_checkpoint
def document_profile(documents: DataFrame) -> DataFrame:
    """Per-document feature row: tokens, word chars, punctuation
    ratio, quality score. The cheap-filter tier every corpus pipeline
    runs first."""
    return documents.select(
        "doc_id",
        "lang",
        text.token_count_expr(F.col("text")).alias("tokens"),
        text.word_chars_expr(F.col("text")).alias("word_chars"),
        text.punct_ratio_expr(F.col("text")).alias("punct_ratio"),
        F.length(F.col("text")).alias("chars"),
    ).orderBy("doc_id")


def language_profile(documents: DataFrame) -> DataFrame:
    """Stopword-vote language ID vs the labeled lang column --
    per-language confusion counts."""
    pred = documents.select(
        "doc_id", "lang", text.langid_scores_expr(F.col("text")).alias("pred_lang")
    )
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("lang", "pred_lang")
    )


def quality_buckets(documents: DataFrame) -> DataFrame:
    """Quality-score histogram per language."""
    q = documents.select(
        "lang", text.quality_score_expr(F.col("text")).alias("q")
    )
    return (
        q.groupBy("lang", F.round(F.col("q"), 2).alias("q_bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("lang", "q_bucket")
    )


def token_stats_by_source(documents: DataFrame) -> DataFrame:
    """Per-source token statistics -- corpus composition report."""
    toks = documents.select(
        "source", text.token_count_expr(F.col("text")).alias("tokens")
    )
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("tokens").alias("total_tokens"),
            F.min("tokens").alias("min_tokens"),
            F.max("tokens").alias("max_tokens"),
        )
        .orderBy("source")
    )


def regex_token_profile(documents: DataFrame) -> DataFrame:
    """Per-language whitespace vs BPE-ish token accounting -- the
    "how many LLM tokens is this corpus" report. Sums are exact
    bigints, so the ratio is deterministic under any partitioning."""
    per_doc = documents.select(
        "lang",
        F.length("text").alias("chars"),
        text.token_count_expr(F.col("text")).alias("ws_tokens"),
        text.bpe_token_count_expr(F.col("text")).alias("bpe_tokens"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("ws_tokens").alias("ws_tokens"),
            F.sum("bpe_tokens").alias("bpe_tokens"),
            F.round(
                F.sum("chars") / F.sum("bpe_tokens"), 6
            ).alias("chars_per_bpe_token"),
        )
        .orderBy("lang")
    )


def winnow_fingerprint_profile(documents: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Per-document checksum of the winnowing fingerprint SET:
    count + bit_xor + min + max. Verifies the whole selected set
    (any added/dropped/changed fingerprint flips the xor) while
    returning one row per document instead of ~len/w -- the form a
    100 TB fingerprint audit would materialize."""
    rows = documents.select(
        "doc_id",
        F.explode(
            text.winnow_fingerprints_expr(F.col("text"), k=k, w=w)
        ).alias("fp"),
    )
    return (
        rows.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.expr("bit_xor(fp)").alias("fp_xor"),
            F.min("fp").alias("fp_min"),
            F.max("fp").alias("fp_max"),
        )
        .orderBy("doc_id")
    )


def quality_signals(documents: DataFrame) -> DataFrame:
    """Gopher-style per-document repetition/shape signals (public
    Rae et al. 2021 recipe): token count, duplicate-token fraction,
    mean word length, stopword fraction, and the resulting keep/drop
    flag. Every value is per-row IEEE arithmetic -- deterministic and
    oracle-replayable."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tok = text.token_count_expr(F.col("text"))
    wc = text.word_chars_expr(F.col("text"))
    stops = text.stopword_count_expr(F.col("text"))
    sig = documents.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        F.round(
            (n_tok - F.size(F.array_distinct(toks))) / F.greatest(n_tok, F.lit(1)), 6
        ).alias("dup_token_frac"),
        F.round(wc / F.greatest(n_tok, F.lit(1)), 6).alias("mean_word_len"),
        F.round(stops / F.greatest(n_tok, F.lit(1)), 6).alias("stop_frac"),
    )
    keep = (
        (F.col("n_tok") >= 10)
        & (F.col("n_tok") <= 100000)
        & (F.col("mean_word_len") >= 2)
        & (F.col("mean_word_len") <= 12)
        & (F.col("dup_token_frac") < 0.6)
    )
    return sig.withColumn("gopher_keep", keep).orderBy("doc_id")


def training_manifest(documents: DataFrame) -> DataFrame:
    """End-to-end corpus-cleaning manifest: exact-dedup (canonical =
    lowest doc_id per md5 signature), Gopher-style keep filter
    (quality_signals' flag), then per-(lang, source) accounting of
    what survives. The closing report of every training-data
    pipeline; every value is an exact bigint so the rollup is
    deterministic under any partitioning."""
    from pyspark.sql import Window

    keep = quality_signals(documents).select("doc_id", "n_tok", "gopher_keep")
    canon = documents.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
        ),
    )
    survivors = (
        canon.filter(F.col("rn") == 1)
        .join(keep, "doc_id")
        .filter(F.col("gopher_keep"))
    )
    return (
        survivors.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").alias("tokens"),
            F.sum(F.length("text")).alias("chars"),
        )
        .orderBy("lang", "source")
    )


def fingerprint_documents(documents: DataFrame) -> DataFrame:
    """Deterministic content fingerprints: md5 (exact-dup signature,
    ParserMapper.java:828-832) + xxhash64 (cheap 64-bit)."""
    return documents.select(
        "doc_id",
        text.md5_signature_expr(F.col("text")).alias("md5_sig"),
        text.doc_fingerprint_expr(F.col("text")).alias("xx64_sig"),
    ).orderBy("doc_id")


# Patterns restricted to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB oracle): classes, bounded repeats,
# word boundaries. No backrefs or lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_LONGNUM = r"[0-9]{9,}"


def redact_pii(documents: DataFrame) -> DataFrame:
    """Scrub emails / IPv4s / long digit runs (id-number shaped) from
    document text -- standard training-corpus hygiene before a dump
    leaves the pipeline. Pure Column exprs (regexp_replace chains stay
    in whole-stage codegen); the result row carries match counts and
    an md5 of the redacted text, not the text itself, so the audit
    output is narrow at any corpus size.

    Replacement order matters: emails first (their local part may
    contain digits), then IPv4 (octets are <=3 digits so the long-num
    pass cannot eat them), then bare long digit runs.
    """
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4,
            "<IP>",
        ),
        PII_LONGNUM,
        "<NUM>",
    )
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_IPV4), F.lit(0))).alias(
            "n_ips"
        ),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(PII_LONGNUM), F.lit(0))
        ).alias("n_longnums"),
        F.md5(redacted).alias("redacted_sig"),
    ).orderBy("doc_id")


def stratified_sample(documents: DataFrame, rate_pct: int = 10) -> DataFrame:
    """Deterministic stratified downsample: keep ~rate_pct% of each
    document id's md5-hash bucket. Hash-mod sampling (not rand()) so
    the SAME rows are kept on every engine, run, and cluster layout --
    reproducible corpus subsets are what make ablation experiments
    comparable. A pure filter: no shuffle, fully pushdown-friendly,
    and the kept set is stable under repartitioning at any scale.
    """
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    return (
        documents.filter(bucket < rate_pct)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def vocabulary(documents: DataFrame, top_n: int = 100) -> DataFrame:
    """Corpus vocabulary: top-N lowercase whitespace tokens by
    document frequency (with total term frequency). The classic
    tokenizer-training / stopword-mining pass. Explode shuffles one
    row per token occurrence but both counts partial-aggregate
    map-side, and the top-N is a TakeOrderedAndProject, so the full
    sorted vocabulary never materializes.
    """
    toks = documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("term_freq"),
        )
        .orderBy(F.desc("doc_freq"), F.desc("term_freq"), F.asc("token"))
        .limit(top_n)
    )


def _token_shingles(
    documents: DataFrame, n: int, distinct: bool = True
) -> DataFrame:
    """(doc_id, sh) distinct lowercase n-token shingles as a narrow
    array projection (same construction as the dedup tier's 3-token
    shingles): no window shuffle over the exploded token table, and
    the token array is hoisted into its own projection so the split
    is not re-evaluated per shingle index.

    `distinct=False` skips the closing distinct for STREAMING
    callers: a streaming distinct is a second stateful operator
    (illegal before a streaming aggregation), and min-aggregation
    consumers are duplicate-insensitive anyway."""
    arr = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    base = documents.select("doc_id", arr.alias("_arr"))
    shingles = F.when(
        F.size("_arr") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_arr") - (n - 1)),
            lambda i: F.array_join(F.slice(F.col("_arr"), i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = base.select("doc_id", F.explode(shingles).alias("sh"))
    return out.distinct() if distinct else out


def contamination_check(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_shared: int = 3,
) -> DataFrame:
    """Train/benchmark overlap scan (decontamination): per training
    document, the number of distinct n-token shingles it shares with
    ANY benchmark document, and a contaminated flag at >= min_shared.
    The standard eval-leakage pass (GPT-3 appendix C / Gopher's 13-gram
    decontamination use the same shape; n is a parameter because token
    units differ).

    Scale shape: both shingle sets are per-doc distinct, and the
    benchmark side collapses to a DISTINCT shingle set, so the join
    fan-out per training shingle is at most 1 -- a linear equi-join
    (broadcast when the benchmark is small, which real benchmark
    suites are) followed by a partial-aggregating count. Nothing
    quadratic, no UDF; at 100 TB hash the shingle to a bigint first
    (md5/xxhash both sides) to shrink the shuffle payload.
    """
    tr = _token_shingles(documents, n)
    be = _token_shingles(benchmark, n).select("sh").distinct()
    hits = (
        tr.join(be, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    return (
        documents.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("shared_ngrams", F.lit(0)).alias("shared_ngrams"),
            (F.coalesce("shared_ngrams", F.lit(0)) >= min_shared).alias(
                "contaminated"
            ),
        )
        .orderBy("doc_id")
    )


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    sort: bool = True,
) -> DataFrame:
    """Fixed-size overlapping token windows per document -- the
    chunking step every RAG / embedding pipeline runs before encoding:
    (doc_id, chunk_idx, n_tokens, chunk_text).

    Pure Column expressions (split -> sequence -> posexplode -> slice
    -> array_join): no UDF, whole-stage codegen end-to-end, and the
    chunk count is exact integer arithmetic so the output is identical
    on any engine. Scale shape: the explode multiplies rows by
    ~n/stride but each output row carries only its own window's text
    -- the full token array never shuffles (chunking happens in the
    scan stage's projection).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.expr(
            f"CAST((size(split(trim(text), '\\\\s+')) - {chunk_tokens} "
            f"+ {stride} - 1) DIV {stride} AS INT) + 1"
        )
    )
    with_idx = documents.select(
        "doc_id",
        toks.alias("_toks"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
            "chunk_idx", "_i"
        ),
    )
    window = F.slice(
        F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_tokens
    )
    out = with_idx.select(
        "doc_id",
        "chunk_idx",
        F.size(window).alias("n_tokens"),
        F.array_join(window, " ").alias("chunk_text"),
    )
    # sort=False for consumers that immediately re-shuffle (e.g. the
    # paragraph-dedup groupBy): the global sort exists only to make
    # the chunk table itself a deterministic result surface, and a
    # range-exchange + sort of the exploded corpus is pure waste when
    # the next operator destroys the order anyway (guide 2.4)
    return out.orderBy("doc_id", "chunk_idx") if sort else out


def paragraph_dedup(
    paragraphs: DataFrame,
    max_doc_freq: int = 2,
    id_col: str = "doc_id",
    idx_col: str = "para_idx",
    text_col: str = "para_text",
) -> DataFrame:
    """Corpus-level paragraph dedup (the CCNet discipline): a
    paragraph whose normalized hash appears in MORE than
    `max_doc_freq` distinct documents is boilerplate (nav bars,
    cookie banners, license blurbs) and is dropped from every
    document; the survivors re-concatenate in original order.

    Input is (id, idx, text) paragraph rows -- split upstream however
    the corpus defines paragraphs (newline split, token windows via
    chunk_documents, HTML block elements).

    Scale shape: exactly two shuffles over the paragraph table -- a
    partial-agg groupBy on the normalized md5 (corpus paragraph
    frequency; linear, no joins wider than the paragraph table) and
    the reassembly groupBy on doc id. Matches CCNet's sharded-hash
    dedup; no driver-side state.

    Output: (doc_id, n_paras, n_dropped, clean_text).
    """
    sig = F.md5(F.lower(F.trim(F.col(text_col))))
    p = paragraphs.select(
        F.col(id_col).alias("doc_id"),
        F.col(idx_col).alias("_idx"),
        F.col(text_col).alias("_text"),
        sig.alias("_sig"),
    )
    freq = p.groupBy("_sig").agg(
        F.countDistinct("doc_id").alias("_doc_freq")
    )
    keep = F.col("_doc_freq") <= max_doc_freq
    return (
        p.join(freq, "_sig")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_paras"),
            F.sum(F.when(~keep, 1).otherwise(0))
            .cast("int")
            .alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("_idx", "_text"))
                        )
                    ),
                    lambda s: s["_text"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def repetition_signals(documents: DataFrame, n: int = 2) -> DataFrame:
    """Within-document n-gram repetition (the Gopher repetition
    rules): the fraction of characters claimed by the single most
    frequent word n-gram, and the fraction of characters in repeated
    n-gram occurrences beyond each gram's first (the published
    dup-n-gram approximation -- overlaps are not de-overlapped).

    Scale shape: the gram explode multiplies rows by ~tokens/doc but
    each row carries only its own gram text; one partial-agg groupBy
    on (doc_id, gram) then one on doc_id. No joins, no windows over
    the corpus.

    Output: (doc_id, n_grams, distinct_grams, top_gram,
    top_gram_char_frac, dup_gram_char_frac) -- top-gram ties break to
    the lexicographically greatest gram (max over (count, gram)).
    Documents with fewer than n tokens have no n-grams and emit no
    row (join the result back to the corpus when a full roster is
    needed); the same holds in the SQL oracle, so the contract is
    explicit, not an engine accident.
    """
    # token array hoisted into its own projection: inlined into the
    # transform lambda, Catalyst re-evaluates the split per gram
    # index (quadratic in document length)
    base = documents.select(
        "doc_id",
        F.length("text").alias("_chars"),
        F.split(F.trim(F.col("text")), r"\s+").alias("_toks"),
    )
    # guard: sequence(1, 0) DESCENDS in Spark ([1, 0]), so a doc with
    # fewer than n tokens must map to an explicit empty gram array
    grams = F.when(
        F.size("_toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
            lambda i: F.array_join(F.slice(F.col("_toks"), i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = base.select(
        "doc_id",
        "_chars",
        F.explode(grams).alias("gram"),
    )
    per_gram = g.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("_cnt"), F.first("_chars").alias("_chars")
    )
    top = F.max(F.struct(F.col("_cnt"), F.col("gram")))
    chars = F.first("_chars")
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("_cnt").cast("int").alias("n_grams"),
            F.count(F.lit(1)).cast("int").alias("distinct_grams"),
            top["gram"].alias("top_gram"),
            F.round(
                top["_cnt"]
                * F.length(top["gram"])
                / F.greatest(chars, F.lit(1)),
                6,
            ).alias("top_gram_char_frac"),
            F.round(
                F.sum((F.col("_cnt") - 1) * F.length("gram"))
                / F.greatest(chars, F.lit(1)),
                6,
            ).alias("dup_gram_char_frac"),
        )
        .orderBy("doc_id")
    )


def unigram_logprob_scores(documents: DataFrame) -> DataFrame:
    """Per-document mean word surprisal under the corpus's own
    unigram distribution -- the classic cheap quality/outlier signal
    (a doc of rare words scores high, boilerplate scores low), the
    poor man's KenLM perplexity filter.

    Two linear passes: corpus word counts (partial-agg groupBy; Zipf
    makes the vocabulary table orders of magnitude smaller than the
    corpus) and a word->count equi-join back. The vocabulary side is
    what Spark's AQE will broadcast when it fits.

    Float parity: each distinct word's surprisal is rounded to 6
    decimals ONCE (per vocabulary row, not per occurrence), summed as
    DECIMAL(18,6) (exact, order-independent), and the mean is taken
    in INTEGER micro-bits with half-up rounding -- sum/count can land
    exactly on a half-way decimal (seen at sf0.1: 166.956167/34 =
    4.9104755) where double round() legitimately differs across
    engines; integer arithmetic cannot.

    Output: (doc_id, n_tok, mean_surprisal_bits).
    """
    words = documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "word"
        ),
    ).filter(F.col("word") != "")
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("_cnt"))
    # corpus total = sum of vocabulary counts: derives from the
    # already-aggregated ~vocab-sized table instead of a third full
    # pass over the exploded token table; stays lazy, one plan,
    # no driver-side action
    total = vocab.agg(F.sum("_cnt").cast("double").alias("_total"))
    scored = vocab.crossJoin(F.broadcast(total)).select(
        "word",
        F.round(-F.log2(F.col("_cnt") / F.col("_total")), 6)
        .cast("decimal(18,6)")
        .alias("_lp"),
    )
    return (
        words.join(scored, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tok"),
            (F.sum("_lp") * 1000000).cast("bigint").alias("_sm"),
        )
        .select(
            "doc_id",
            "n_tok",
            (
                F.expr("(2 * _sm + n_tok) DIV (2 * n_tok)").cast("double")
                / F.lit(1000000.0)
            ).alias("mean_surprisal_bits"),
        )
        .orderBy("doc_id")
    )


def bigram_logprob_scores(documents: DataFrame) -> DataFrame:
    """Per-document mean BIGRAM surprisal under the corpus's own
    add-one-smoothed bigram LM -- the next step up from
    unigram_logprob_scores toward the CCNet-style LM-perplexity
    quality filter: p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V).

    Plan shape: the bigram list is built NARROW from the token array
    (arrays_zip of the array with its shift -- no window, no per-doc
    shuffle for construction), then one groupBy for corpus bigram
    counts, an aggregated-table join against the unigram counts for
    the denominators, and a 1-row broadcast for V. Float parity
    follows the unigram discipline exactly: each DISTINCT bigram's
    surprisal rounds to 6 decimals once, sums as DECIMAL(18,6), and
    the mean is integer micro-bits with half-up rounding.

    Output: (doc_id, n_bigrams, mean_surprisal_bits); single-token
    and empty documents are absent (no bigrams to score).
    """
    # hoist the token array into its own projection: expressions
    # referenced inside transform/zip lambdas re-evaluate per element
    toks = documents.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: w != "",
        ).alias("_t"),
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("_t"), 1, F.greatest(F.size("_t") - 1, F.lit(0))),
                F.slice(F.col("_t"), 2, F.greatest(F.size("_t") - 1, F.lit(0))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg"),
    )
    words = toks.select("doc_id", F.explode("_t").alias("word"))
    uni = words.groupBy("word").agg(F.count(F.lit(1)).alias("_c1"))
    vsize = uni.agg(F.count(F.lit(1)).cast("double").alias("_v"))
    bg_counts = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("_c12"))
    scored = (
        bg_counts.withColumn(
            "word", F.split(F.col("bg"), " ", 2).getItem(0)
        )
        .join(uni, "word")
        .crossJoin(F.broadcast(vsize))
        .select(
            "bg",
            F.round(
                -F.log2(
                    (F.col("_c12") + 1) / (F.col("_c1") + F.col("_v"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("_lp"),
        )
    )
    return (
        bigrams.join(scored, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            (F.sum("_lp") * 1000000).cast("bigint").alias("_sm"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.expr("(2 * _sm + n_bigrams) DIV (2 * n_bigrams)").cast(
                    "double"
                )
                / F.lit(1000000.0)
            ).alias("mean_surprisal_bits"),
        )
        .orderBy("doc_id")
    )


def pack_sequences(
    documents: DataFrame, seq_len: int = 2048, buckets: int = 32,
    sample_target: int = 4096,
) -> DataFrame:
    """Sequence-packing layout for LLM training: documents
    concatenate into one global token stream (doc_id order) that is
    chunked into fixed `seq_len` training sequences; each document
    reports where it landed. The concat-then-chunk discipline --
    documents SPAN sequence boundaries rather than padding them --
    is what most pretraining pipelines ship.

    Scale shape -- NO global window. The global running total
    decomposes exactly into (shard prefix + within-shard running
    total) over any CONTIGUOUS doc_id sharding, so:
      1. bounded-sample doc_id cut points (md5-permille sample, the
         webgraph.dense_rank_by_key discipline) assign each row a
         shard as frozen literals -- deterministic under re-execution;
      2. the cumulative-sum window partitions BY SHARD and runs in
         parallel, one sort per shard, never a single task;
      3. shard prefix offsets are EXACT closed-form sums of the
         per-shard token totals (one bounded collect: <= `buckets`
         rows), folded back in as a literal map.
    Result identical to the single-window form bit-for-bit -- integer
    arithmetic throughout -- at any partitioning.

    Output: (doc_id, n_tok, start_offset, first_seq, last_seq,
    start_in_seq) -- offsets are 0-based global token positions;
    empty documents (0 tokens) are dropped (they occupy no tokens).
    """
    from pyspark.sql import Window

    from ..functions.text import token_count_expr

    toks = documents.select(
        "doc_id", token_count_expr(F.col("text")).alias("n_tok")
    ).filter(F.col("n_tok") > 0)

    # contiguous doc_id shards from a bounded sample (cuts become plan
    # literals; the md5-permille filter keeps the collect <= ~2x the
    # sample target regardless of corpus size)
    n = toks.count()
    permille = min(1000, max(1, (2 * sample_target * 1000) // max(n, 1)))
    sample = sorted(
        r["doc_id"]
        for r in toks.filter(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16, 10,
            ).cast("bigint") % 1000 < permille
        ).select("doc_id").collect()
    )
    n_cuts = max(0, min(buckets - 1, len(sample) - 1))
    cuts = (
        [sample[(i + 1) * len(sample) // (n_cuts + 1)]
         for i in range(n_cuts)]
        if n_cuts
        else []
    )
    shard = F.lit(0)
    for c in cuts:
        shard = shard + (F.col("doc_id") > F.lit(c)).cast("int")
    sharded = toks.withColumn("_shard", shard)

    # exact shard prefix sums: one bounded collect (<= buckets rows)
    totals = {
        r["_shard"]: r["t"]
        for r in sharded.groupBy("_shard")
        .agg(F.sum("n_tok").alias("t"))
        .collect()
    }
    offsets, acc = [], 0
    for b in range(len(cuts) + 1):
        offsets.append(acc)
        acc += totals.get(b, 0)
    off = F.element_at(
        F.create_map(
            *[F.lit(x) for b, o in enumerate(offsets) for x in (b, o)]
        ),
        F.col("_shard"),
    )

    w = (
        Window.partitionBy("_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sharded.withColumn(
        "_end", (off + F.sum("n_tok").over(w)).cast("long")
    )
    start = (F.col("_end") - F.col("n_tok")).cast("long")
    return cum.select(
        "doc_id",
        "n_tok",
        start.alias("start_offset"),
        F.expr(f"(_end - n_tok) DIV {seq_len}").alias("first_seq"),
        F.expr(f"(_end - 1) DIV {seq_len}").alias("last_seq"),
        F.expr(f"(_end - n_tok) % {seq_len}").cast("int").alias(
            "start_in_seq"
        ),
    ).orderBy("doc_id")


def tfidf_keywords(documents: DataFrame, top_k: int = 3) -> DataFrame:
    """Top-k TF-IDF keywords per document -- the classic corpus
    keyword extractor (and the scoring backbone of every inverted-
    index ranker).

    Engine-exact selection: idf quantizes to integer micro-units
    ONCE per vocabulary row via floor(ln(N/df)*1e6+0.5) and
    multiplies the integer term frequency as exact BIGINTs, so the
    per-document ranking (score desc, token asc) cannot be reordered
    by float summation, a last-ulp ln() difference, or the
    half-boundary instability of round(double, 6).

    Scale shape: term frequencies are one partial-agg groupBy over
    (doc, token); document frequencies aggregate the same table again
    (Zipf-small vocabulary out); the vocabulary re-join broadcasts.
    No windows over the corpus -- only over each document's term list.

    Output: (doc_id, token, tf, tfidf).
    """
    from pyspark.sql import Window

    words = documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "token"
        ),
    ).filter(F.col("token") != "")
    tf = words.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = documents.select("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    # idf quantized to integer micro-units via floor(x*1e6+0.5):
    # round(double, 6) is not engine-stable near half boundaries (see
    # bm25_scores); the score is then an exact bigint product
    idf = df_.crossJoin(F.broadcast(n_docs)).select(
        "token",
        F.floor(F.log(F.col("_n") / F.col("_df")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("_idf_u"),
    )
    scored = tf.join(idf, "token").withColumn(
        "_score_u", F.col("tf") * F.col("_idf_u")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("_score_u"), F.asc("token")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select(
            "doc_id",
            "token",
            "tf",
            (F.col("_score_u").cast("double") / F.lit(1e6)).alias("tfidf"),
        )
        .orderBy("doc_id", F.desc("_score_u"), "token")
    )


def pmi_pairs(
    documents: DataFrame,
    top_vocab: int = 50,
    min_pair_docs: int = 2,
) -> DataFrame:
    """Pointwise mutual information over within-document
    co-occurrence -- the classic word-association miner (collocation
    discovery, phrase induction).

    pmi(a,b) = ln(N * df_ab / (df_a * df_b)) over DOCUMENT
    frequencies; positive = the words co-occur more than independence
    predicts.

    Scale discipline: the pair space is restricted to the top
    `top_vocab` corpus tokens BEFORE pairing (broadcast semi join),
    so the per-document pair fan-out is bounded by top_vocab^2 -- the
    unrestricted self-join would be quadratic in per-document
    vocabulary. The ln of the exact integer ratio is quantized to
    integer micro-units via floor(x*1e6+0.5) (round(double, 6) is not
    engine-stable near half boundaries; floor is -- see bm25_scores),
    so ordering and values are engine-exact. Negative PMI quantizes
    with the same definition (floor rounds half-up toward +inf on
    both engines).

    Output: (token_a, token_b, pair_docs, pmi), token_a < token_b,
    pmi-descending with a token tiebreak.
    """
    vocab = vocabulary(documents, top_n=top_vocab).select(
        "token", F.col("doc_freq").alias("_df")
    )
    toks = (
        documents.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                )
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .join(F.broadcast(vocab), "token")
    )
    n_docs = documents.agg(F.count(F.lit(1)).alias("_n"))
    a = toks.select(
        "doc_id", F.col("token").alias("token_a"), F.col("_df").alias("_dfa")
    )
    b = toks.select(
        "doc_id", F.col("token").alias("token_b"), F.col("_df").alias("_dfb")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b", "_dfa", "_dfb")
        .agg(F.count(F.lit(1)).alias("pair_docs"))
        .filter(F.col("pair_docs") >= min_pair_docs)
    )
    pmi_u = F.floor(
        F.log(
            (F.col("_n") * F.col("pair_docs"))
            / (F.col("_dfa") * F.col("_dfb"))
        )
        * 1e6
        + 0.5
    ).cast("bigint")
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .select(
            "token_a",
            "token_b",
            "pair_docs",
            (pmi_u.cast("double") / F.lit(1e6)).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "token_a", "token_b")
    )


def bm25_scores(
    documents: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 ranking of documents against a bag-of-terms query -- the
    default lexical scorer of every web search stack (and what the
    reference's query server would have run had it ranked by content
    rather than URL metadata).

    score(d) = sum over query terms of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * len/avglen))

    Engine-exact discipline: idf (the Robertson log((N-df+0.5)/
    (df+0.5)+1) form, always positive) and each term's saturation
    factor are quantized to integer micro-units via floor(x*1e6+0.5)
    -- round(double, 6) is NOT engine-stable near half boundaries
    (Spark rounds the shortest decimal repr, DuckDB multiplies then
    std::rounds; observed 1e-6 flips), floor(x+0.5) is one definition
    every engine evaluates identically. Products and sums then happen
    in exact BIGINT, so both the scores and the (score desc, doc_id)
    ranking are bit-identical on any engine and partitioning.

    Scale shape: the terms list broadcasts; only matching (doc, term)
    rows survive the explode (a semi-join-shaped filter in the scan);
    per-doc lengths ride along; one partial-agg groupBy per doc then
    a global top-k (TakeOrdered).
    """
    spark = documents.sparkSession
    # dedupe: a repeated query term would double tf INSIDE the
    # saturation ratio (not add a second contribution), silently
    # breaking the BM25 formula
    tdf = spark.createDataFrame(
        sorted({(t.lower(),) for t in terms}), "term string"
    )
    words = documents.select(
        "doc_id",
        text.token_count_expr(F.col("text")).alias("_len"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    ).join(F.broadcast(tdf), "term")
    tf = words.groupBy("doc_id", "term", "_len").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = documents.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        (
            F.sum(text.token_count_expr(F.col("text")))
            / F.count(F.lit(1))
        ).alias("_avglen"),
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    idf_raw = F.log(
        (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0
    )
    idf = df_.crossJoin(F.broadcast(stats)).select(
        "term",
        "_avglen",
        F.floor(idf_raw * 1e6 + 0.5).cast("bigint").alias("_idf_u"),
    )
    sat_raw = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("_len") / F.col("_avglen"))
    )
    sat_u = F.floor(sat_raw * 1e6 + 0.5).cast("bigint")
    contrib = tf.join(idf, "term").select(
        "doc_id", (F.col("_idf_u") * sat_u).alias("_c")
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("_c").alias("_s"))
        .select(
            "doc_id", (F.col("_s").cast("double") / F.lit(1e12)).alias("bm25")
        )
        .orderBy(F.desc("_s"), "doc_id")
        .limit(top_k)
    )


def duplicate_spans_table(documents: DataFrame, min_len: int = 8) -> DataFrame:
    """The maximal-duplicated-interval table (doc_id, _isl, _s, _e)
    both ExactSubstr gates consume -- exposed so a caller can build
    it ONCE per (session, corpus) and pass it to
    duplicate_span_profile and duplicate_span_trim via `spans=` (the
    dedup `pairs=` sharing idiom): the shingle explode + corpus
    window is by far the dominant cost of both (r9-opt wave 6)."""
    return _duplicate_span_tables(documents, min_len)[1]


def duplicate_span_profile(
    documents: DataFrame, min_len: int = 8, spans: DataFrame | None = None
) -> DataFrame:
    """Exact duplicated-substring spans -- the ExactSubstr discipline
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"): any run of >= min_len tokens that occurs at least
    twice anywhere in the corpus is a duplicated span, and overlapping
    hits merge into maximal spans per document.

    Suffix-array-free re-expression: positional min_len-token shingles
    (doc_id, pos, md5) -> corpus-frequency groupBy -> join the
    duplicated signatures back -> per-document interval union via one
    bounded window (a gap > min_len-1 between consecutive hit
    positions starts a new span). A maximal duplicated region of R
    tokens is covered by exactly its R-min_len+1 duplicated shingles,
    so the merged intervals ARE the maximal spans the suffix-array
    scan would report -- as three linear shuffles.

    Scale shape: positional shingles are linear in corpus tokens (the
    token array is hoisted into its own projection so the split is not
    re-evaluated per index); the frequency groupBy keys on a 32-hex
    md5; only (doc_id, pos) pairs -- not text -- shuffle back through
    the join; the interval window partitions by doc_id, so its state
    is bounded by document length, never corpus-wide. No UDF, nothing
    quadratic.

    Output: (doc_id, n_tokens, dup_spans, dup_tokens, dup_frac_micro);
    the fraction is integer micro-units via DIV, bit-identical on any
    engine and partitioning.
    """
    base = _span_base(documents)
    if spans is None:
        spans = _duplicate_span_tables(documents, min_len)[1]
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("dup_spans"),
        F.sum(F.col("_e") - F.col("_s") + min_len)
        .cast("bigint")
        .alias("dup_tokens"),
    )
    joined = (
        base.select("doc_id", F.size("_arr").cast("bigint").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_spans", F.lit(0)).cast("int").alias("dup_spans"),
            F.coalesce("dup_tokens", F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
        )
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        "dup_spans",
        "dup_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("dup_tokens * 1000000 DIV n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("dup_frac_micro"),
    ).orderBy("doc_id")


def _span_base(documents: DataFrame) -> DataFrame:
    """(doc_id, _arr hoisted token array) -- the cheap, shuffle-free
    projection both ExactSubstr consumers rebuild locally."""
    arr = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    return documents.select("doc_id", arr.alias("_arr"))


def _duplicate_span_tables(
    documents: DataFrame, min_len: int
) -> tuple[DataFrame, DataFrame]:
    """Shared ExactSubstr machinery: (base, spans) where base is
    (doc_id, _arr hoisted token array) and spans is one row per
    maximal duplicated interval (doc_id, _isl, _s, _e) in shingle
    START positions -- token coverage is [_s, _e + min_len - 1]."""
    from pyspark.sql import Window

    base = _span_base(documents)
    sigs = F.when(
        F.size("_arr") >= min_len,
        F.transform(
            F.sequence(F.lit(1), F.size("_arr") - (min_len - 1)),
            lambda i: F.md5(
                F.array_join(F.slice(F.col("_arr"), i, min_len), " ")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = base.select(
        "doc_id", F.posexplode(sigs).alias("_p0", "_sig")
    ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "_sig")
    # corpus occurrence count as ONE window pass over the positional
    # table (count over partition-by-signature): a groupBy + join-back
    # would shuffle twice AND re-evaluate the shingle md5 lineage per
    # consumer (no exchange reuse -- map-side partials differ)
    hits = (
        pos.select(
            "doc_id",
            "pos",
            F.count(F.lit(1))
            .over(Window.partitionBy("_sig"))
            .alias("_occ"),
        )
        .filter(F.col("_occ") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    new_span = F.when(
        F.col("pos") - F.lag("pos", 1).over(w) <= min_len - 1, F.lit(0)
    ).otherwise(F.lit(1))
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spans = (
        hits.select("doc_id", "pos", new_span.alias("_new"))
        .select("doc_id", "pos", F.sum("_new").over(run).alias("_isl"))
        .groupBy("doc_id", "_isl")
        .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
    )
    return base, spans


def duplicate_span_trim(
    documents: DataFrame, min_len: int = 8, spans: DataFrame | None = None
) -> DataFrame:
    """The actionable half of ExactSubstr dedup (Lee et al. 2022):
    REMOVE every maximal duplicated >= min_len-token span and
    reassemble the survivors in order -- the paper's drop-the-span
    policy (their released tool cuts all copies; dropping one
    canonical keeper instead is a one-line change upstream of this
    operator).

    Same three linear shuffles as duplicate_span_profile, plus one
    per-document span array (bounded by doc length / min_len) joined
    back to the hoisted token array; the kept-token filter is a plain
    higher-order expression over bound columns, so nothing is
    re-evaluated per element and no UDF runs.

    Output: (doc_id, n_tokens, kept_tokens, clean_text).
    """
    base = _span_base(documents)
    if spans is None:
        spans = _duplicate_span_tables(documents, min_len)[1]
    span_arr = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("_s", "_e"))).alias("_spans")
    )
    empty = F.expr("CAST(array() AS array<struct<_s:int,_e:int>>)")
    joined = base.join(span_arr, "doc_id", "left").select(
        "doc_id", "_arr", F.coalesce("_spans", empty).alias("_spans")
    )
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("_arr")),
            lambda i: F.when(
                ~F.exists(
                    F.col("_spans"),
                    lambda s: (i >= s["_s"])
                    & (i <= s["_e"] + (min_len - 1)),
                ),
                F.get(F.col("_arr"), i - 1),
            ),
        ),
        lambda t: t.isNotNull(),
    )
    return (
        joined.select(
            "doc_id",
            F.size("_arr").cast("bigint").alias("n_tokens"),
            kept.alias("_kept"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("_kept").cast("bigint").alias("kept_tokens"),
            F.array_join("_kept", " ").alias("clean_text"),
        )
        # sort sampling would re-run the span filter HOFs (r9-opt)
        .transform(ckpt_lazy)
        .orderBy("doc_id")
    )


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail quality bucketing (Wenzek et al.
    2020): per-language tertiles of LM surprisal, here under the
    corpus's own add-one bigram LM (bigram_logprob_scores). 'head' =
    most-fluent third, the slice CCNet keeps preferentially for
    training mixes.

    Determinism: the surprisal is already integer micro-bits, and the
    ntile ordering tiebreaks on doc_id, so bucket assignment is total-
    ordered and engine-exact. Scale shape: one per-language window
    over the (doc, score) table -- rows per partition bounded by the
    per-language corpus slice; at 100 TB swap ntile for the
    approx-quantile cutover (two scans, no global sort) if a single
    language dominates.

    Output: (doc_id, lang, mean_surprisal_bits, ppl_bucket); docs
    with no bigrams (absent from the scorer) are absent here too.
    """
    from pyspark.sql import Window

    scores = bigram_logprob_scores(documents)
    labeled = scores.join(documents.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy("mean_surprisal_bits", "doc_id")
    return (
        labeled.select(
            "doc_id",
            "lang",
            "mean_surprisal_bits",
            F.ntile(3).over(w).alias("_nt"),
        )
        .select(
            "doc_id",
            "lang",
            "mean_surprisal_bits",
            F.when(F.col("_nt") == 1, F.lit("head"))
            .when(F.col("_nt") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
        .orderBy("doc_id")
    )


def hashed_quality_scores(
    documents: DataFrame, buckets: int = 4096
) -> DataFrame:
    """fastText-style hashed linear quality classifier INFERENCE
    (Joulin et al. 2016, "Bag of Tricks for Efficient Text
    Classification"): features are word unigrams + adjacent bigrams
    mapped to `buckets` weight slots by the hashing trick; the score
    is the mean feature weight. The quality-classifier stage of
    CCNet/DCLM-style corpus curation, expressed as one explode +
    groupBy -- no Python, no model server.

    Weights here are DETERMINISTIC STAND-INS derived from md5 of the
    bucket id (uniform in [-1000, 1000]), which makes the gate
    engine-exact; production swaps a trained weight table in via a
    broadcast join on `bucket` with an identical plan shape (the same
    posture as the PQ codebook / IVF centroid gates).

    Exactness: bucket and weight come from md5 hex slices (the hash
    both engines share); the mean is computed in integer micro-units
    shifted nonnegative before the truncating division --
    ((s + 1000*n) * 1e6) DIV n - 1e9 -- so trunc-vs-floor can never
    diverge (weights >= -1000 guarantees the shift). Returns
    (doc_id, n_features, score_micro, label) where label is
    'keep'/'filter' by score sign, 'empty' for featureless docs.
    """
    arrs = documents.select(
        "doc_id",
        # hoisted: the slices below each reference arr once per ROW
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
        ).alias("arr"),
    )
    feats = arrs.select(
        "doc_id",
        F.explode(
            F.concat(
                F.col("arr"),
                F.zip_with(
                    # greatest(..., 0): slice raises on negative
                    # length for zero-word docs under ANSI mode
                    F.slice(
                        F.col("arr"), 1, F.greatest(F.size("arr") - 1, F.lit(0))
                    ),
                    F.slice(
                        F.col("arr"), 2, F.greatest(F.size("arr") - 1, F.lit(0))
                    ),
                    lambda a, b: F.concat(a, F.lit("_"), b),
                ),
            )
        ).alias("feat"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("qc:"), F.col("feat"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % buckets
    )
    weight = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w:"), bucket.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 2001
        - 1000
    )
    agg = feats.select("doc_id", weight.alias("wt")).groupBy("doc_id").agg(
        F.count("*").alias("n_features"), F.sum("wt").alias("s")
    )
    score = F.expr(
        "((s + 1000 * n_features) * 1000000) DIV n_features"
    ) - F.lit(1_000_000_000)
    return (
        documents.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_features", F.lit(0))
            .cast("long")
            .alias("n_features"),
            F.coalesce(score, F.lit(0)).cast("long").alias("score_micro"),
            F.when(F.col("n_features").isNull(), F.lit("empty"))
            .when(score >= 0, F.lit("keep"))
            .otherwise(F.lit("filter"))
            .alias("label"),
        )
        .orderBy("doc_id")
    )


def langid_ngram_confusion(
    documents: DataFrame, profile_k: int = 50
) -> DataFrame:
    """Character-n-gram language identification per Cavnar & Trenkle
    1994 ("N-Gram-Based Text Categorization") -- the classic langid
    algorithm behind textcat, and the upgrade over the stopword-vote
    heuristic in language_profile: build a ranked trigram profile per
    language (training) and per document (inference), classify by the
    OUT-OF-PLACE rank distance (sum over the document profile of
    |doc_rank - lang_rank|, with `profile_k` as the penalty for
    trigrams absent from the language profile), argmin over languages.

    Entirely integer arithmetic -- ranks and penalties, no log-probs --
    so the gate is engine-exact by construction; rank ties break on
    the trigram string, argmin ties on the language name. Documents
    whose profile matches no language profile at all (or that have no
    trigrams) classify as 'und'.

    Scale shape: the trigram explode is linear in corpus size; both
    profile builds are partial-agg groupBys capped at `profile_k`
    rows per group; the distance stage joins the (<= n_docs * k)
    document profile against the (<= n_langs * k) language profile on
    trigram -- the language side is broadcast-sized at any corpus
    scale. Missing-trigram penalties are closed-form (profile size
    minus matched count, times k), so absent (doc, lang) combinations
    never need materializing.

    Returns the confusion matrix (lang, pred_lang, cnt) -- the
    standard way to read a langid run against labeled data.
    """
    from pyspark.sql import Window

    k = profile_k
    norm = (
        documents.select(
            "doc_id",
            "lang",
            F.regexp_replace(
                F.lower(F.col("text")), "[^a-z0-9]+", " "
            ).alias("t"),
        )
        .filter(F.length("t") >= 3)
        # the sf tables are one parquet file each: without this the
        # trigram explode (the dominant linear stage) runs on ONE
        # core; repartition the narrow projection, not the raw scan
        .repartition(
            documents.sparkSession.sparkContext.defaultParallelism,
            "doc_id",
        )
    )
    tris = norm.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(t) - 2),"
                   " i -> substring(t, i, 3))")
        ).alias("tri"),
    )
    # One pass over the exploded trigrams: count at (doc_id, lang,
    # tri) grain (lang is functionally dependent on doc_id, so the
    # key cardinality equals (doc_id, tri)), then derive BOTH
    # profiles from it -- the language counts are a partial-agg sum
    # over the already-reduced table, so the raw explode is scanned
    # and shuffled exactly once instead of twice.
    tri_cnt = tris.groupBy("doc_id", "lang", "tri").agg(
        F.count(F.lit(1)).alias("c")
    # referenced by BOTH profile builds: without a boundary Catalyst
    # replans the trigram explode + count per consumer (r9-opt)
    ).transform(ckpt_lazy)
    lang_prof = (
        tri_cnt.groupBy("lang", "tri")
        .agg(F.sum("c").alias("c"))
        .select(
            "lang",
            "tri",
            F.row_number()
            .over(
                Window.partitionBy("lang").orderBy(F.desc("c"), F.col("tri"))
            )
            .alias("rl"),
        )
        .filter(F.col("rl") <= k)
    )
    doc_prof = (
        tri_cnt.select(
            "doc_id", "tri", "c"
        )
        .select(
            "doc_id",
            "tri",
            F.row_number()
            .over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("c"), F.col("tri")
                )
            )
            .alias("rd"),
        )
        .filter(F.col("rd") <= k)
        # consumed by doc_sizes AND the distance join (r9-opt)
        .transform(ckpt_lazy)
    )
    doc_sizes = doc_prof.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nd")
    )
    dists = (
        doc_prof.join(F.broadcast(lang_prof), "tri")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.abs(F.col("rd") - F.col("rl"))).alias("matched_pen"),
            F.count(F.lit(1)).alias("matched_cnt"),
        )
        .join(doc_sizes, "doc_id")
        .select(
            "doc_id",
            "lang",
            (
                F.col("matched_pen")
                + (F.col("nd") - F.col("matched_cnt")) * F.lit(k)
            ).alias("dist"),
        )
    )
    pred = dists.groupBy("doc_id").agg(
        F.min(F.struct("dist", "lang")).alias("m")
    ).select("doc_id", F.col("m.lang").alias("pred_lang"))
    return (
        documents.select("doc_id", "lang")
        .join(pred, "doc_id", "left")
        .groupBy(
            "lang",
            F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("lang", "pred_lang")
    )


def corpus_zipf_profile(documents: DataFrame) -> DataFrame:
    """One-row corpus statistics profile: total tokens, vocabulary
    size, hapax count, and the Zipf rank-frequency slope.

    The slope is the OLS fit of ln(freq) on ln(rank) over the whole
    vocabulary -- the standard corpus-health diagnostic (natural text
    sits near -1; boilerplate-heavy or templated corpora flatten it,
    spam inflates the hapax tail). Engine parity: each ln is rounded
    ONCE to integer micro-units (floor(x*1e6+0.5), the bm25/pmi
    discipline), the regression sums are exact DECIMAL(38,0)/HUGEINT
    integers, and the final slope is a sign-split truncating integer
    division (DECIMAL(38,0) DIV == DuckDB HUGEINT //), so the row is
    bit-identical on any engine or layout.

    The rank assignment deliberately avoids `row_number() OVER
    (ORDER BY cnt DESC)` -- the vocabulary of a 100 TB web corpus is
    billions of terms and a global window ranks them all in ONE task.
    Instead the (cnt desc, term asc) order is folded into a MONOTONE
    string key -- zero-padded decimal of (10^18 - cnt), then the term
    -- and ranked with webgraph.dense_rank_by_key's bounded-sample
    bucket ranker: per-bucket parallel windows, driver state capped
    at the sample + one row per bucket. Sorting the key ascending IS
    sorting (cnt DESC, term ASC), and terms are distinct post-groupBy,
    so 0-based dense rank + 1 == the row_number. Everything upstream
    and downstream is partial-aggregating.
    """
    from .webgraph import dense_rank_by_key

    toks = documents.select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term")
    ).filter(F.col("term") != "")
    # materialize the vocab table once: the bucket ranker takes a
    # bounded sample + per-bucket counts over it (3 passes), which
    # must not re-run the corpus-wide explode+groupBy each time
    freq = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(ckpt_lazy)
    )
    key = F.concat(
        F.lpad((F.lit(10**18) - F.col("cnt")).cast("string"), 19, "0"),
        F.lit("|"),
        F.col("term"),
    )
    ordinals = dense_rank_by_key(
        freq.select(key.alias("name"))
    )
    ranked = (
        freq.withColumn("_k", key)
        .join(ordinals, F.col("_k") == ordinals["name"])
        .withColumn("rnk", (F.col("node_id") + 1).cast("int"))
    )
    xy = ranked.select(
        F.floor(F.log(F.col("rnk").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("y"),
        F.col("cnt"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    sums = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(F.col("cnt")).alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum((F.col("cnt") == 1).cast("long")).alias("hapax_count"),
    )
    numer = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        F.when(denom == 0, F.lit(None))
        .when(
            numer >= 0,
            F.expr(
                "CAST((n * sxy - sx * sy) * 1000000"
                " DIV (n * sxx - sx * sx) AS BIGINT)"
            ),
        )
        .otherwise(
            -F.expr(
                "CAST((sx * sy - n * sxy) * 1000000"
                " DIV (n * sxx - sx * sx) AS BIGINT)"
            )
        )
    )
    return sums.select(
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("hapax_count").cast("long").alias("hapax_count"),
        slope.alias("zipf_slope_micro"),
    )


def corpus_heaps_profile(
    documents: DataFrame, checkpoints: int = 10
) -> DataFrame:
    """Vocabulary-growth curve (Heaps' law): how many distinct terms
    the corpus has accumulated by each of N doc-id checkpoints --
    the companion diagnostic to corpus_zipf_profile (sublinear growth
    is healthy text; near-linear growth means id-like junk tokens,
    a flat curve means templated duplication).

    Checkpoints are fractions of the doc-id RANGE (min + i*(max-min)
    DIV N), deliberately NOT rank quantiles: closed-form integer
    thresholds need no global sort at any scale. Each term
    contributes via its FIRST document (min doc_id -- one partial
    aggregate over the token table); the curve is then a 10-row
    broadcast threshold join (a nested-loop join against ten rows,
    which is the cheap and correct plan).

    Returns (checkpoint, doc_threshold, docs_seen, tokens_seen,
    vocab_seen) ordered by checkpoint; the last row is the whole
    corpus.
    """
    toks = documents.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("ntok")
    )
    first = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    thr = (
        documents.agg(
            F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
        )
        .select(
            F.explode(F.expr(f"sequence(1, {checkpoints})")).alias(
                "checkpoint"
            ),
            "mn",
            "mx",
        )
        .select(
            "checkpoint",
            F.expr(f"mn + ((mx - mn) * checkpoint) DIV {checkpoints}").alias(
                "doc_threshold"
            ),
        )
    )
    dcurve = (
        per_doc.join(
            F.broadcast(thr), F.col("doc_id") <= F.col("doc_threshold")
        )
        .groupBy("checkpoint", "doc_threshold")
        .agg(
            F.count(F.lit(1)).alias("docs_seen"),
            F.sum("ntok").alias("tokens_seen"),
        )
    )
    vcurve = (
        first.join(F.broadcast(thr), F.col("fd") <= F.col("doc_threshold"))
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).alias("vocab_seen"))
    )
    return (
        dcurve.join(vcurve, "checkpoint", "left")
        .select(
            "checkpoint",
            "doc_threshold",
            "docs_seen",
            "tokens_seen",
            F.coalesce("vocab_seen", F.lit(0)).alias("vocab_seen"),
        )
        .orderBy("checkpoint")
    )


def render_line_corpus(documents: DataFrame, line_tokens: int = 12) -> DataFrame:
    """Deterministic line-corpus rendering for the C4 cleaning gate:
    the synthetic documents table has no newlines or punctuation, so
    (like the fixture bytes `sources.packfiles._synthesize_media`
    builds per doc_id) this derives a plausible line corpus from it
    -- fixed-width token windows as lines, with
    md5-keyed decorations that exercise every C4 rule:

    - ~90% of lines get a terminal '.' (h % 10 != 0 lacks one);
    - ~1/37 of lines are prefixed 'javascript ' (line-drop rule);
    - docs with doc_id % 101 == 0 get 'lorem ipsum ' on line 0
      (page-drop rule).

    All keys are md5-derived (engine-stable uniforms discipline), so
    a SQL oracle replays the rendering exactly.
    """
    lt = int(line_tokens)
    d = documents.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_toks")
    )
    n_lines = F.greatest(
        F.floor((F.size("_toks") + F.lit(lt - 1)) / lt).cast("int"), F.lit(1)
    )
    d = d.select(
        "doc_id",
        "_toks",
        F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("line_idx"),
    )
    raw = F.array_join(
        F.slice(F.col("_toks"), F.col("line_idx") * lt + 1, lt), " "
    )
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", "doc_id", "line_idx")), 1, 15),
        16,
        10,
    ).cast("long")
    line = F.when(h % 37 == 0, F.concat(F.lit("javascript "), raw)).otherwise(
        raw
    )
    line = F.when(
        (F.col("doc_id") % 101 == 0) & (F.col("line_idx") == 0),
        F.concat(F.lit("lorem ipsum "), line),
    ).otherwise(line)
    line = F.when(h % 10 != 0, F.concat(line, F.lit("."))).otherwise(line)
    return d.select("doc_id", "line_idx", line.alias("line"))


def c4_line_filter(
    lines: DataFrame, min_words: int = 3, min_kept_lines: int = 5
) -> DataFrame:
    """C4-style line-level page cleaning (Raffel et al. 2020, public
    recipe): keep only lines ending in terminal punctuation with at
    least `min_words` words and no javascript / policy-boilerplate
    phrase; drop the WHOLE page if any line contains 'lorem ipsum' or
    a curly brace, or fewer than `min_kept_lines` lines survive.
    (C4 counts sentences for the 5-sentence page rule; here the
    corpus's line is the sentence proxy, as documented upstream.)

    Input: (doc_id, line_idx, line). Output: surviving docs only --
    (doc_id, n_lines, n_kept, clean_text) with kept lines
    re-concatenated in original order.

    Scale shape: one line-wise projection (pure Column exprs, stays
    in codegen) + ONE groupBy(doc_id) shuffle for reassembly; the
    page-drop predicates fold into the same aggregate (max over line
    flags), so the whole filter is a single pass over the line table.
    """
    low = F.lower(F.col("line"))
    terminal = F.col("line").rlike('[.!?"]$')
    wc = F.size(F.split(F.trim(F.col("line")), r"\s+"))
    banned = (
        low.contains("javascript")
        | low.contains("cookie policy")
        | low.contains("terms of use")
        | low.contains("privacy policy")
    )
    poison = low.contains("lorem ipsum") | F.col("line").contains("{")
    keep = terminal & (wc >= int(min_words)) & ~banned
    flagged = lines.select(
        "doc_id",
        "line_idx",
        "line",
        keep.alias("_keep"),
        poison.cast("int").alias("_poison"),
    )
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_lines"),
        F.sum(F.col("_keep").cast("int")).cast("int").alias("n_kept"),
        F.max("_poison").alias("_poisoned"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("line_idx", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        agg.filter(
            (F.col("_poisoned") == 0)
            & (F.col("n_kept") >= int(min_kept_lines))
        )
        .select("doc_id", "n_lines", "n_kept", "clean_text")
        .orderBy("doc_id")
    )


def dsir_importance_weights(
    documents: DataFrame, target_lang: str = "en", buckets: int = 256
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every raw document by how much it looks like the TARGET
    distribution, using hashed n-gram features -- the standard
    pretraining-mix selection step (DSIR picked The Pile subsets for
    many published models). Here the target is the `target_lang`
    slice of the corpus itself and features are md5-hashed unigram
    buckets (the count-min salting discipline,
    aggregates._cms_bucket), so the gate is self-contained.

    Per-feature weight is the add-one-smoothed log-likelihood ratio
      lambda[b] = ln((ct[b]+1)/(Tt+B)) - ln((cr[b]+1)/(Tr+B))
    with ct/cr = target/raw bucket counts, Tt/Tr the token totals,
    B the bucket count. Each ln is quantized ONCE to integer
    micro-units (floor(x*1e6+0.5), the zipf/bm25 discipline) so the
    document score -- the integer dot product sum_b c_doc[b] *
    lambda_micro[b] -- is engine- and partitioning-exact.

    Scale shape: one token explode (linear), ONE partial-aggregating
    groupBy to (doc_id, bucket) grain; both distribution tables
    collapse to <= `buckets` rows (broadcast-sized at any corpus
    scale, like the reference's in-memory rank tables,
    service/pagerank/slave/PageRankUtils.java); the totals are a
    1-row broadcast. No shuffle grows with corpus size except the
    (doc_id, bucket) reduction itself.

    Output: (doc_id, lang, tokens, dsir_score_micro), score
    descending -- the resampling order (take the top slice at the
    desired mix rate).
    """
    B = int(buckets)
    toks = documents.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
            )
        ).alias("token"),
    )
    feats = toks.select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10)
            .cast("bigint")
            % B
        ).alias("bucket"),
    )
    # one full-volume reduction; everything below is bucket-grain.
    # Boundary: doc_feats feeds BOTH the lambda-table branch and the
    # scoring join -- without it Catalyst re-analyzes and the runtime
    # re-executes the explode+reduce per reference (r9-opt wave 6)
    doc_feats = feats.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    ).transform(ckpt_lazy)
    # ONE aggregation carries both distributions (conditional sum for
    # the target) -- a raw/target split pair would let Catalyst push
    # the lang filter into a SEPARATE scan lineage and forfeit the
    # doc_feats exchange reuse between the lambda and scoring branches
    bucket_counts = doc_feats.groupBy("bucket").agg(
        F.sum("c").alias("cr"),
        F.sum(
            F.when(F.col("lang") == target_lang, F.col("c")).otherwise(
                F.lit(0)
            )
        ).alias("ct"),
    )
    q = lambda col: F.floor(F.log(col.cast("double")) * 1e6 + F.lit(0.5)).cast(
        "bigint"
    )
    dist = bucket_counts.select(
        "bucket",
        (q(F.col("ct") + 1) - q(F.col("cr") + 1)).alias("lam_part"),
        "ct",
        "cr",
    )
    totals = dist.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    ).select(
        # ln totals quantized once, reused for every bucket
        (q(F.col("tr") + F.lit(B)) - q(F.col("tt") + F.lit(B))).alias(
            "lam_norm"
        )
    )
    lam = dist.crossJoin(F.broadcast(totals)).select(
        "bucket", (F.col("lam_part") + F.col("lam_norm")).alias("lam_micro")
    )
    scored = (
        doc_feats.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("tokens"),
            F.sum(F.col("c") * F.col("lam_micro"))
            .cast("bigint")
            .alias("dsir_score_micro"),
        )
    )
    return (
        documents.select("doc_id", "lang")
        .join(scored.drop("lang"), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("tokens", F.lit(0)).alias("tokens"),
            F.coalesce("dsir_score_micro", F.lit(0)).alias(
                "dsir_score_micro"
            ),
        )
        # result-ordering sort: sampling would re-run the scoring
        # join; materialize the small per-doc rows first (r9-opt)
        .transform(ckpt_lazy)
        .orderBy(F.desc("dsir_score_micro"), "doc_id")
    )


# floor(ln(0.4) * 1e6 + 0.5): the stupid-backoff discount as an
# integer literal, so neither engine ever evaluates ln(0.4)
BACKOFF_ALPHA_LN_MICRO = -916291


def stupid_backoff_scores(
    documents: DataFrame, train_mod: int = 2
) -> DataFrame:
    """Distributed stupid-backoff trigram LM scoring (Brants et al.
    2007, "Large Language Models in Machine Translation" -- the
    smoothing invented FOR MapReduce-scale corpora: no normalization
    pass, counts only). Train counts come from even documents
    (doc_id % train_mod == 0), scores are for the held-out rest --
    the CCNet discipline of scoring crawl text under an external LM,
    self-contained on one table.

        S(w3 | w1 w2) = c123/c12              if c123 > 0
                        a * c23/c2            elif c23 > 0
                        a^2 * (c3+1)/(T+V)    otherwise (add-one floor
                                              absorbs unknown words)

    with a = 0.4. Engine parity: every ln is over a positive INTEGER
    count, quantized once to micro-units (floor(x*1e6+0.5)); ln(a)
    enters as the integer literal BACKOFF_ALPHA_LN_MICRO, so scores
    are exact integer sums. All branches are <= 0, so the report
    carries the positive surprisal -sum, and the per-token average is
    a truncating DIV over non-negative integers.

    Plan shape: n-gram count tables are partial-agg groupBys over the
    TRAIN half; scoring joins the positions table against a
    per-DISTINCT-trigram score table (one equi-join), never against
    the four count tables row-by-row; totals are a 1-row broadcast.
    Everything scales linearly in corpus size -- the property stupid
    backoff was designed around.

    Output: (doc_id, n_scored, neg_logprob_micro, avg_surprisal_micro)
    for held-out docs with >= 1 trigram position, by doc_id.
    """
    toks = documents.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: w != "",
        ).alias("_t"),
    )
    train = toks.filter(F.col("doc_id") % train_mod == 0)
    heldout = toks.filter(F.col("doc_id") % train_mod != 0)

    n2 = lambda: F.greatest(F.size("_t") - 2, F.lit(0))
    n1 = lambda: F.greatest(F.size("_t") - 1, F.lit(0))
    tri_expr = F.zip_with(
        F.slice(F.col("_t"), 1, n2()),
        F.zip_with(
            F.slice(F.col("_t"), 2, n2()),
            F.slice(F.col("_t"), 3, n2()),
            lambda b, c: F.concat(b, F.lit(" "), c),
        ),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    bg_expr = F.zip_with(
        F.slice(F.col("_t"), 1, n1()),
        F.slice(F.col("_t"), 2, n1()),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )

    tri_c = (
        train.select(F.explode(tri_expr).alias("tri"))
        .groupBy("tri")
        .agg(F.count(F.lit(1)).alias("c123"))
    )
    bg_c = (
        train.select(F.explode(bg_expr).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cbg"))
    )
    uni_c = (
        train.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    totals = uni_c.agg(
        F.sum("cw").alias("_T"), F.count(F.lit(1)).alias("_V")
    )

    positions = heldout.select(
        "doc_id", F.explode(tri_expr).alias("tri")
    )
    q = lambda col: F.floor(
        F.log(col.cast("double")) * 1e6 + F.lit(0.5)
    ).cast("bigint")
    A = F.lit(BACKOFF_ALPHA_LN_MICRO).cast("bigint")
    need = positions.select("tri").distinct().select(
        "tri",
        F.split(F.col("tri"), " ", 3).alias("_p"),
    ).select(
        "tri",
        F.concat_ws(" ", F.col("_p")[0], F.col("_p")[1]).alias("b12"),
        F.concat_ws(" ", F.col("_p")[1], F.col("_p")[2]).alias("b23"),
        F.col("_p")[1].alias("w2"),
        F.col("_p")[2].alias("w3"),
    )
    scored_tri = (
        need.join(tri_c, "tri", "left")
        .join(bg_c.withColumnRenamed("bg", "b12")
                  .withColumnRenamed("cbg", "c12"), "b12", "left")
        .join(bg_c.withColumnRenamed("bg", "b23")
                  .withColumnRenamed("cbg", "c23"), "b23", "left")
        .join(uni_c.withColumnRenamed("w", "w2")
                   .withColumnRenamed("cw", "c2"), "w2", "left")
        .join(uni_c.withColumnRenamed("w", "w3")
                   .withColumnRenamed("cw", "c3"), "w3", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "tri",
            F.when(
                F.col("c123").isNotNull(), q(F.col("c123")) - q(F.col("c12"))
            )
            .when(
                F.col("c23").isNotNull(), A + q(F.col("c23")) - q(F.col("c2"))
            )
            .otherwise(
                A * 2
                + q(F.coalesce(F.col("c3"), F.lit(0)) + 1)
                - q(F.col("_T") + F.col("_V"))
            )
            .alias("s_micro"),
        )
    )
    return (
        positions.join(scored_tri, "tri")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            (-F.sum("s_micro")).cast("bigint").alias("neg_logprob_micro"),
        )
        .select(
            "doc_id",
            "n_scored",
            "neg_logprob_micro",
            F.expr("neg_logprob_micro DIV n_scored").alias(
                "avg_surprisal_micro"
            ),
        )
        # sort sampling would re-run the score join (r9-opt)
        .transform(ckpt_lazy)
        .orderBy("doc_id")
    )


# block-level tags that delimit text blocks in the boilerplate
# classifier, and the multilingual marker-stopword list it scores
# with (the union of functions.text.LANG_MARKERS, frozen here so the
# SQL oracle can mirror it as a literal)
BOILER_BLOCK_RE = r"</?(p|div|h1|h2|h3|li|ul|title|body|html|head|footer|nav)[^>]*>"
BOILER_STOPS = (
    "the", "and", "of", "to", "a",
    "der", "die", "und", "das", "ist",
    "le", "la", "et", "les", "des",
    "el", "que", "los", "de",
)


def boilerplate_blocks(pages: DataFrame) -> DataFrame:
    """jusText-style boilerplate/content block classification
    (Pomikalek 2011, the public algorithm behind the cleaning step
    every CommonCrawl text consumer runs before training) --
    simplified to context-FREE rules so the verdict is a pure
    function of each block (jusText's neighbor-smoothing pass is
    context-sensitive; the core link-density / stopword-density /
    length discipline is this):

    - split the page into blocks on block-level tags
    - per block: word count, link density (chars inside <a> tags over
      block text chars), marker-stopword density -- both as micro-unit
      integers (floor, engine-stable)
    - verdict: link_density > 0.5 -> boilerplate; < 5 words ->
      boilerplate; stopword density >= 0.30 with >= 10 words ->
      content; >= 20 words -> content; else boilerplate.

    Input: (doc_id, html). Output one row per non-empty block:
    (doc_id, block_idx, n_words, link_density_micro,
    stop_density_micro, label) -- block_idx is the split ordinal, so
    downstream reassembly preserves page order.

    Scale shape: ONE posexplode + pure Column expressions end to end
    (regexp split/strip/extract_all + higher-order filter); no joins,
    no aggregation, no shuffle except the explode itself -- the same
    linear one-pass contract as c4_line_filter.
    """
    blocks = pages.select(
        "doc_id",
        F.posexplode(F.split(F.col("html"), BOILER_BLOCK_RE)).alias(
            "block_idx", "_raw"
        ),
    )
    # anchor inner text BEFORE stripping tags ([^<]* keeps the capture
    # engine-portable; anchors with nested markup are out of scope)
    anchor_chars = F.expr(
        "aggregate(regexp_extract_all(_raw, '<a[^>]*>([^<]*)</a>', 1), "
        "0, (acc, x) -> acc + length(x))"
    )
    text = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("_raw"), "<[^>]*>", " "), r"\s+", " "
        )
    )
    scored = blocks.select(
        "doc_id",
        "block_idx",
        text.alias("_text"),
        anchor_chars.alias("_achars"),
    ).filter(F.length("_text") > 0)
    stops_sql = ", ".join(f"'{s}'" for s in BOILER_STOPS)
    out = scored.select(
        "doc_id",
        "block_idx",
        F.size(F.split(F.lower(F.col("_text")), " ")).alias("n_words"),
        F.expr(
            "CAST(_achars AS BIGINT) * 1000000 DIV length(_text)"
        ).alias("link_density_micro"),
        F.expr(
            f"CAST(size(filter(split(lower(_text), ' '), "
            f"t -> array_contains(array({stops_sql}), t))) AS BIGINT) "
            "* 1000000 DIV size(split(lower(_text), ' '))"
        ).alias("stop_density_micro"),
    )
    label = (
        F.when(F.col("link_density_micro") > 500_000, F.lit("boilerplate"))
        .when(F.col("n_words") < 5, F.lit("boilerplate"))
        .when(
            (F.col("stop_density_micro") >= 300_000)
            & (F.col("n_words") >= 10),
            F.lit("content"),
        )
        .when(F.col("n_words") >= 20, F.lit("content"))
        .otherwise(F.lit("boilerplate"))
    )
    return out.withColumn("label", label).orderBy("doc_id", "block_idx")


def span_corruption(documents: DataFrame) -> DataFrame:
    """T5-style span-corruption pretraining layout (Raffel et al.
    2020 section 3.1.4, public objective): mask contiguous token
    spans, replace each masked span with a numbered sentinel in the
    INPUT, and emit the sentinels + original spans as the TARGET,
    closing with one final sentinel. The stochastic span sampler is
    replaced by the deterministic period-15 pattern (span = 3
    consecutive tokens, every 5th span masked -> 20% noise density,
    mean span 3 -- T5's defaults) so the layout is a pure integer
    function of token position, bit-identical across engines.

    For 0-based token index i: span s = i DIV 3, masked iff
    s % 5 == 0, sentinel id = i DIV 15; the closing sentinel id is
    the masked-span count ceil(ceil(n/3)/5).

    Output: (doc_id, n_tokens, n_masked, input_text, target_text).

    Scale shape: pure Column expressions (split + higher-order
    transform/filter + array_join), zero shuffles, zero joins -- the
    corpus-to-training-example rewrite runs entirely map-side.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_spans = "((size(_toks) + 2) DIV 3)"
    n_masked_spans = f"(({n_spans} + 4) DIV 5)"
    return (
        documents.select("doc_id", toks.alias("_toks"))
        .select(
            "doc_id",
            F.size("_toks").alias("n_tokens"),
            F.expr(
                "size(filter(sequence(0, size(_toks) - 1), "
                "i -> (i DIV 3) % 5 = 0))"
            ).alias("n_masked"),
            F.expr(
                "array_join(filter(transform(_toks, (t, i) -> "
                "CASE WHEN (i DIV 3) % 5 <> 0 THEN t "
                "WHEN i % 3 = 0 THEN concat('<extra_id_', "
                "CAST(i DIV 15 AS STRING), '>') "
                "ELSE CAST(NULL AS STRING) END), "
                "x -> x IS NOT NULL), ' ')"
            ).alias("input_text"),
            F.expr(
                "concat(array_join(filter(transform(_toks, (t, i) -> "
                "CASE WHEN (i DIV 3) % 5 = 0 THEN "
                "(CASE WHEN i % 3 = 0 THEN concat('<extra_id_', "
                "CAST(i DIV 15 AS STRING), '> ', t) ELSE t END) "
                "ELSE CAST(NULL AS STRING) END), "
                "x -> x IS NOT NULL), ' '), "
                f"' <extra_id_', CAST({n_masked_spans} AS STRING), '>')"
            ).alias("target_text"),
        )
        .orderBy("doc_id")
    )


# floor(ln(1e9) * 1e6 + 0.5): the probability-micro scale constant as
# an integer literal (engine-parity: neither engine evaluates ln(1e9))
KN_LN_SCALE_MICRO = 20723266


def kneser_ney_scores(
    documents: DataFrame, train_mod: int = 2
) -> DataFrame:
    """Interpolated Kneser-Ney trigram scoring (Kneser & Ney 1995;
    Chen & Goodman 1999 interpolated form) -- the standard smoothing
    next to `stupid_backoff_scores`' counts-only tier. Same split
    discipline: counts from even documents, scores for the held-out
    rest.

        P(w|u,v) = max(c(uvw)-D, 0)/c(uv+) + D*N1+(uv.)/c(uv+) * P(w|v)
        P(w|v)   = max(N1+(.vw)-D, 0)/N1+(.v.)
                   + D*N1+(v.)/N1+(.v.) * P(w)
        P(w)     = (N1+(.w) + 1) / (N1+(..) + V + 1)

    with D = 0.75 (exact in binary). c(uv+) is the continuation total
    (sum_w c(uvw)); the mid-order type counts come from the trigram
    TYPE table and the unigram continuation counts from the bigram
    TYPE table; the +1/+V+1 floor keeps unknown words finite (an
    add-one variant of the continuation unigram, documented -- KN
    proper leaves P(unknown)=0).

    Engine parity: P is computed with an IDENTICAL expression tree in
    Spark and the SQL oracle -- only IEEE +,-,*,/ and max over exact
    integer counts and the exact literal 0.75, so the double result
    is bit-identical across engines (each op is correctly rounded;
    no library-ulp functions touch P). The probability quantizes ONCE
    to p_micro = floor(P*1e9+0.5); the surprisal then applies ln to
    that INTEGER (the `stupid_backoff_scores` q() discipline), with
    KN_LN_SCALE_MICRO re-centering ln(p_micro) to ln(P).

    Plan shape: count tables are partial-agg groupBys over the train
    half; scoring joins the positions table against one per-DISTINCT-
    trigram score table; totals are a 1-row broadcast. Linear in
    corpus size.

    Output: (doc_id, n_scored, neg_logprob_micro, avg_surprisal_micro)
    for held-out docs with >= 1 trigram position, by doc_id.
    """
    toks = documents.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: w != "",
        ).alias("_t"),
    )
    train = toks.filter(F.col("doc_id") % train_mod == 0)
    heldout = toks.filter(F.col("doc_id") % train_mod != 0)

    n2 = lambda: F.greatest(F.size("_t") - 2, F.lit(0))
    n1 = lambda: F.greatest(F.size("_t") - 1, F.lit(0))
    tri_expr = F.zip_with(
        F.slice(F.col("_t"), 1, n2()),
        F.zip_with(
            F.slice(F.col("_t"), 2, n2()),
            F.slice(F.col("_t"), 3, n2()),
            lambda b, c: F.concat(b, F.lit(" "), c),
        ),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    bg_expr = F.zip_with(
        F.slice(F.col("_t"), 1, n1()),
        F.slice(F.col("_t"), 2, n1()),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )

    tri_stream = train.select(F.explode(tri_expr).alias("tri")).select(
        F.split(F.col("tri"), " ", 3).alias("_p"), "tri"
    ).select(
        "tri",
        F.col("_p")[0].alias("w1"),
        F.col("_p")[1].alias("w2"),
        F.col("_p")[2].alias("w3"),
    )
    tri_c = tri_stream.groupBy("tri", "w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c123")
    # referenced by ctx12, mid_num, mid_den AND the score join:
    # without a boundary the trigram explode + count re-executes per
    # consumer (r9-opt: multiply-referenced-subplan discipline)
    ).transform(ckpt_lazy)
    # continuation totals + distinct-continuation counts per context
    ctx12 = tri_c.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"),
        F.count(F.lit(1)).alias("n1p12"),  # rows are distinct types
    )
    # mid-order type counts over the trigram TYPE table
    mid_num = tri_c.groupBy("w2", "w3").agg(
        F.countDistinct("w1").alias("n1p_vw")
    )
    mid_den = tri_c.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n1p_mid"),
        F.countDistinct("w3").alias("n1p_vdot"),
    )
    # unigram continuation counts over the bigram TYPE table
    bg_types = (
        train.select(F.explode(bg_expr).alias("bg"))
        .distinct()
        .select(F.split(F.col("bg"), " ", 2).alias("_p"))
        .select(F.col("_p")[0].alias("wp"), F.col("_p")[1].alias("w"))
        # consumed by uni_cont and totals (r9-opt)
        .transform(ckpt_lazy)
    )
    uni_cont = bg_types.groupBy("w").agg(
        F.count(F.lit(1)).alias("n1p_dotw")
    )
    vocab_n = train.select(F.explode("_t").alias("w")).agg(
        F.countDistinct("w").alias("vv")
    )
    totals = bg_types.agg(F.count(F.lit(1)).alias("n1pdd")).crossJoin(
        vocab_n
    )

    positions = heldout.select("doc_id", F.explode(tri_expr).alias("tri"))
    need = (
        positions.select("tri")
        .distinct()
        .select("tri", F.split(F.col("tri"), " ", 3).alias("_p"))
        .select(
            "tri",
            F.col("_p")[0].alias("w1"),
            F.col("_p")[1].alias("w2"),
            F.col("_p")[2].alias("w3"),
        )
    )
    D = F.lit(0.75)
    joined = (
        need.join(tri_c.select("tri", "c123"), "tri", "left")
        .join(ctx12, ["w1", "w2"], "left")
        .join(mid_num, ["w2", "w3"], "left")
        .join(mid_den, "w2", "left")
        .join(uni_cont.withColumnRenamed("w", "w3"), "w3", "left")
        .crossJoin(F.broadcast(totals))
    )
    p1 = (F.coalesce(F.col("n1p_dotw"), F.lit(0)) + F.lit(1)) / (
        F.col("n1pdd") + F.col("vv") + F.lit(1)
    )
    p2 = F.when(
        F.col("n1p_mid").isNotNull(),
        (
            F.greatest(
                F.coalesce(F.col("n1p_vw"), F.lit(0)) - D, F.lit(0.0)
            )
            / F.col("n1p_mid")
        )
        + (((D * F.col("n1p_vdot")) / F.col("n1p_mid")) * p1),
    ).otherwise(p1)
    p3 = F.when(
        F.col("c12").isNotNull(),
        (
            F.greatest(
                F.coalesce(F.col("c123"), F.lit(0)) - D, F.lit(0.0)
            )
            / F.col("c12")
        )
        + (((D * F.col("n1p12")) / F.col("c12")) * p2),
    ).otherwise(p2)
    p_micro = F.greatest(
        F.floor(p3 * F.lit(1e9) + F.lit(0.5)).cast("bigint"), F.lit(1)
    )
    s_micro = (
        F.floor(F.log(p_micro.cast("double")) * 1e6 + F.lit(0.5)).cast(
            "bigint"
        )
        - F.lit(KN_LN_SCALE_MICRO)
    )
    scored_tri = joined.select("tri", s_micro.alias("s_micro"))
    return (
        positions.join(scored_tri, "tri")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            (-F.sum("s_micro")).cast("bigint").alias("neg_logprob_micro"),
        )
        .select(
            "doc_id",
            "n_scored",
            "neg_logprob_micro",
            F.expr("neg_logprob_micro DIV n_scored").alias(
                "avg_surprisal_micro"
            ),
        )
        # sort sampling would re-run the score join (r9-opt)
        .transform(ckpt_lazy)
        .orderBy("doc_id")
    )
