"""Text analysis operators for training-data pipelines.

SURVEY.md §2 B34 (north-star mandated): tokenization, token/word counting,
quality scoring, language identification, fingerprinting (fingerprint lives
in dedup.py next to its dedup consumer). Reference seeds: the string-verb
family A13–A17 (split/concat/regex/trim/substring-search,
``R/DataFrameOperationR.R:148-149``, ``:234``, ``:26``, ``:346``,
``:297-299``) generalized from driver-side plumbing to column-level verbs.

Everything is builtin ``pyspark.sql.functions`` — JVM-side regex/string
kernels inside whole-stage codegen. No Python in the hot path; at 100 TB
these run at parquet-scan speed.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ddataframeoperation_spark.operators.dedup import normalized_text

__all__ = [
    "tokens",
    "token_count",
    "word_stats",
    "quality_score",
    "language_scores",
    "language_id",
    "vocabulary",
    "tf_idf",
    "prepare_training_corpus",
    "STOPWORDS",
    "BPE_MERGES",
    "PRETOKEN_REGEX",
    "bpe_subword_stats",
    "kgram_hashes",
    "winnow_fingerprints",
    "fingerprint_overlap_pairs",
    "word_ngrams",
    "ngram_contamination",
    "repetition_stats",
    "redact_pii",
    "bigram_lm_scores",
    "pack_sequences",
    "perplexity_buckets",
    "token_novelty",
    "keyword_pagerank",
    "canonicalize_url",
    "canonical_host",
    "registrable_domain",
    "TRACKING_PARAM_REGEX",
    "PUBLIC_SUFFIXES",
    "bm25_topk",
    "encode_token_ids",
    "lexical_diversity",
    "corpus_balance",
    "vocab_overlap_by_source",
    "corpus_datacard",
    "remove_boilerplate",
    "bpe_pair_counts",
    "bpe_train_step",
    "packing_efficiency",
    "skipgram_pairs",
    "normalize_unicode",
    "skipgram_pmi",
    "preference_pairs",
]

# Tiny per-language marker-word lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and deterministic; a production pipeline
# would swap in fastText/CLD3 behind the same column signature.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with"),
    "es": ("el", "la", "de", "que", "los", "una", "por", "con"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour"),
}


def tokens(col: str | Column = "text") -> Column:
    """B34 — whitespace tokenization of normalized text → array<string>."""
    return F.split(normalized_text(col), " ")


def token_count(col: str | Column = "text") -> Column:
    """B34 — token count. BPE-ish proxy: whitespace tokens; a real BPE pass
    would be a Pandas-UDF batch op with the same column signature.

    Convention (stated): an EMPTY-normalized document counts 1 —
    ``size(split('', ' '))`` is pinned at 1 by Spark, and the DuckDB
    oracles' ``len(string_split(...))`` matches on every fixture (no
    fixture document normalizes to empty at any SF; SCALE.md §49).
    Operators whose OUTPUT sums token counts per group use the explicit
    ``CASE WHEN norm = '' THEN 0`` form instead on BOTH engines
    (``dedup.dedup_token_savings``) because DuckDB's split-of-empty
    changed across engine versions — prefer that form for any new
    aggregate whose value an empty doc could reach."""
    return F.size(tokens(col))


#: GPT-2-style pre-tokenization: letter runs, digit runs, punctuation runs.
PRETOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"

#: Fixed byte-pair merge table, rank-ordered (rank 0 applies first). A
#: hand-picked English-frequency table — deterministic, so the encode is
#: oracle-able; a trained table drops in through the same parameter.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "u"), ("r", "e"), ("o", "n"),
    ("e", "n"), ("a", "t"), ("e", "s"), ("o", "r"), ("t", "i"),
    ("s", "t"), ("a", "r"), ("a", "l"), ("l", "e"), ("i", "t"),
    ("i", "s"), ("e", "d"), ("ou", "r"), ("the", "r"),
)

#: Symbol separator used during the merge loop — a control char that the
#: pre-tokenizer guarantees never appears inside a pre-token.
_BPE_SEP = "\x01"


def bpe_subword_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges: tuple[tuple[str, str], ...] = BPE_MERGES,
) -> DataFrame:
    """B34 — byte-pair-merge subword encoding with actual merges (not a
    whitespace proxy), as an Arrow-batched ``mapInPandas`` kernel.

    Algorithm (the fast-encode formulation): pre-tokenize with
    :data:`PRETOKEN_REGEX`; start each pre-token as its character symbols;
    apply the merge table in rank order, each merge replacing all
    occurrences greedy-leftmost. Deterministic given the table, and
    reproducible in plain SQL as a chain of ``replace()`` calls — which is
    exactly what the DuckDB oracle does, so the two implementations verify
    each other merge-for-merge.

    Python is the right tool here (B30 boundary): the per-symbol merge
    loop has data-dependent iteration that Spark expressions can't fuse.
    ``mapInPandas`` keeps it Arrow-batched and embarrassingly parallel —
    no shuffle, scales linearly with partitions at 100 TB.

    Returns (id_col, n_pretokens, n_subwords) per input row.
    """
    import re

    import pandas as pd

    # re.ASCII pins \s to ASCII whitespace — the semantics Java regex
    # (Spark) and RE2 (DuckDB) use — so all three engines pre-tokenize
    # identically on non-ASCII input.
    pat = re.compile(PRETOKEN_REGEX, re.ASCII)
    reps = [(a + _BPE_SEP + b, a + b) for a, b in merges]
    out_schema = f"{id_col} long, n_pretokens int, n_subwords int"

    def encode(batches):
        for pdf in batches:
            ids, npre, nsub = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                pts = pat.findall(t) if isinstance(t, str) else []
                total = 0
                for p in pts:
                    s = _BPE_SEP.join(p)
                    for old, new in reps:
                        s = s.replace(old, new)
                    total += s.count(_BPE_SEP) + 1
                ids.append(i)
                npre.append(len(pts))
                nsub.append(total)
            yield pd.DataFrame(
                {id_col: ids, "n_pretokens": npre, "n_subwords": nsub}
            )

    return df.select(id_col, text_col).mapInPandas(encode, schema=out_schema)


def word_stats(df: DataFrame, text_col: str = "text", group_col: str = "lang") -> DataFrame:
    """B34 — per-group corpus stats: docs, token totals, avg tokens/chars."""
    t = df.withColumn("n_tokens", token_count(text_col)).withColumn(
        "n_chars_calc", F.length(text_col)
    )
    return t.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars_calc"), 4).alias("avg_chars"),
    )


def quality_score(col: str | Column = "text") -> Column:
    """B34 — cheap document quality heuristic in [0,1]: combination of
    length band, alphabetic ratio, and mean word length band. Deterministic,
    pure builtins, so it is DuckDB-oracle-able."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z ]", ""))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    ntok = token_count(c)
    mean_wlen = F.when(ntok > 0, F.length(normalized_text(c)) / ntok).otherwise(
        F.lit(0.0)
    )
    len_band = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(F.lit(0.3))
    wlen_band = F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.4)
    )
    return F.round(0.4 * len_band + 0.4 * alpha_ratio + 0.2 * wlen_band, 4)


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """B34 — corpus vocabulary: per token, total term frequency and document
    frequency, filtered to ``df >= min_df``. One explode + one aggregate;
    the df filter is the classic vocabulary-pruning step (and the hot-token
    guard for anything that later joins on token)."""
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.countDistinct("id").cast("long").alias("doc_freq"),
        )
        .filter(F.col("doc_freq") >= min_df)
    )


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """B34 — per-(doc, token) tf-idf: tf(d,t) × ln(N / df(t)).

    Two aggregates over one exploded token table (per-doc tf, corpus df)
    joined back on token; N rides in as a literal computed once. The df
    join side is token-level (vocabulary-sized) — broadcastable at any
    corpus scale after ``min_df`` pruning.
    """
    n_docs = df.select(id_col).distinct().count()
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("id", "token").agg(F.count("*").cast("long").alias("tf"))
    dfreq = (
        tok.groupBy("token")
        .agg(F.countDistinct("id").cast("long").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_df)
    )
    return tf.join(F.broadcast(dfreq), "token").select(
        F.col("id").alias(id_col),
        "token",
        "tf",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("doc_freq"))).alias(
            "tf_idf"
        ),
    )


def prepare_training_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    languages: tuple[str, ...] = (),
) -> DataFrame:
    """North-star composition: the standard LLM training-data prep chain —
    quality filter → optional language filter → exact near-normalization
    dedup (keep lowest id) — as one declarative pipeline. Deterministic,
    hence oracle-able; each stage reduces cardinality before the only
    shuffle (the dedup hash on the 16-byte fingerprint)."""
    from ddataframeoperation_spark.operators.dedup import dedup_by_fingerprint

    scored = df.withColumn("quality", quality_score(text_col)).filter(
        F.col("quality") >= min_quality
    )
    if languages:
        scored = scored.withColumn("pred_lang", language_id(text_col)).filter(
            F.col("pred_lang").isin(*languages)
        )
    return dedup_by_fingerprint(scored, text_col=text_col, id_col=id_col)


def _marker_count(c: Column, words: tuple[str, ...]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pat), 0))


def language_scores(col: str | Column = "text") -> dict[str, Column]:
    """Per-language marker-word hit counts."""
    c = F.col(col) if isinstance(col, str) else col
    return {lang: _marker_count(c, words) for lang, words in STOPWORDS.items()}


def language_id(col: str | Column = "text") -> Column:
    """B34 — language-ID heuristic: argmax of marker-word counts, 'und' when
    all zero. Fixed lang iteration order makes ties deterministic."""
    scores = language_scores(col)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(STOPWORDS):  # fixed order: later langs win only on >
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


#: Polynomial rolling-hash parameters (Rabin–Karp / MOSS winnowing family).
#: Small prime base, Mersenne-prime modulus — both arithmetic-only, so the
#: identical hash is computable in any SQL engine (the DuckDB oracle twins
#: use the same constants).
_FP_BASE = 31
_FP_MOD = 2147483647  # 2^31 - 1


def kgram_hashes(codes, k: int = 5):
    """B34 — per-position k-gram rolling hashes over a char-code vector
    (numpy int64), the Rabin–Karp polynomial:

        hash(i) = sum_{j<k} codes[i+j] * BASE^(k-1-j)  mod  2^31-1

    Vectorized: k shifted multiply-adds over the whole document at once.
    Host-side kernel for ``winnow_fingerprints``'s Arrow batches; also
    usable standalone on any int sequence. Returns an empty vector when
    the document is shorter than k.
    """
    import numpy as np

    c = np.asarray(codes, dtype=np.int64)
    n = c.shape[0]
    if n < k:
        return np.empty(0, dtype=np.int64)
    acc = np.zeros(n - k + 1, dtype=np.int64)
    for j in range(k):
        acc += c[j : n - k + 1 + j] * pow(_FP_BASE, k - 1 - j, _FP_MOD)
    return acc % _FP_MOD


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    out_col: str = "fingerprints",
) -> DataFrame:
    """B34 — winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): slide a ``window`` over the k-gram rolling hashes
    of the normalized text and keep the minimum of each window; the
    distinct, sorted minima are the document's fingerprint set. Guarantees
    every match of length >= k+window-1 shares a fingerprint, at
    ~2/(window+1) sampling density.

    Implemented as an Arrow-batched ``pandas_udf`` (numpy rolling hash +
    sliding-window min), NOT builtin higher-order functions, deliberately:
    Spark's higher-order array functions are CodegenFallback — interpreted,
    boxed, per-element — and Catalyst freely re-inlines a multiply-
    referenced normalize/split expression into nested lambda bodies,
    turning the chain into O(len²·k) regex evaluations per document
    (measured: 5 docs → 114 s interpreted vs milliseconds here). The
    kernel is per-document local — embarrassingly parallel, no shuffle, at
    100 TB it runs at scan speed inside the same stage as the parquet read.
    """
    import numpy as np

    # Mirrors dedup.normalized_text exactly (lower → collapse non-alnum
    # runs to one space → trim); the output alphabet is ASCII [a-z0-9 ].
    import re

    norm_re = re.compile(r"[^a-z0-9]+")

    @F.pandas_udf("array<long>")
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            t = norm_re.sub(" ", (t or "").lower()).strip()
            c = np.frombuffer(t.encode("ascii", "replace"), dtype=np.uint8)
            hs = kgram_hashes(c, k=k)
            m = hs.shape[0]
            if m == 0:
                out.append(np.empty(0, dtype=np.int64))
            elif m < window:
                out.append(hs.min(keepdims=True))
            else:
                mins = np.lib.stride_tricks.sliding_window_view(hs, window).min(axis=1)
                out.append(np.unique(mins))  # unique is sorted
        return pd.Series(out)

    return df.withColumn(out_col, _winnow(F.col(text_col)))


def word_ngrams(toks: Column, n: int = 3) -> Column:
    """B34 — word n-grams from a token-array COLUMN, entirely JVM-side
    (transform over a sequence of start offsets + slice + concat_ws): no
    shuffle, no Python — n-gram construction happens in the same stage as
    the parquet scan.

    Pass a materialized column (``withColumn("toks", tokens(...))`` first),
    NOT the ``tokens()`` expression itself: Catalyst inlines a lambda-
    referenced expression into the loop body, re-running the normalize+split
    regex once per element (the O(len²) trap winnow_fingerprints documents).

    Guard rail: Spark's ``sequence(1, stop)`` DESCENDS when stop < 1 (a doc
    shorter than n would yield bogus offsets), hence the explicit
    empty-array branch.
    """
    starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """B34 — benchmark-contamination check: per document, the fraction of
    its distinct word ``n``-grams that also occur anywhere in ``benchmark``
    — the standard eval-set decontamination step for LLM training corpora.

    Plan shape: both sides build n-grams at scan speed (word_ngrams),
    explode to an inverted index, and meet in ONE equi-join on the n-gram
    string. The benchmark side is distinct-reduced and broadcast — eval
    sets are tiny relative to a 100 TB corpus. (At extreme benchmark sizes
    the broadcast hint drops out and the same plan shuffle-joins on the
    n-gram; production would first xxhash64 the n-gram to 8 bytes to
    shrink the exchange.) Documents shorter than ``n`` words surface with
    ``n_ngrams = 0`` and ratio 0.0 rather than vanishing.

    r13 optimization (guide §2.4): per-document n-gram distinctness is
    ROW-LOCAL — ``array_distinct`` before the explode replaces the old
    post-explode ``.distinct()``, whose exchange shuffled every n-gram
    STRING in the corpus (the only data-sized shuffle in the plan; the
    per-doc aggregate after the broadcast join map-side combines).
    Measured 1.27 s → 0.85 s at sf0.1, rows identical.

    PRECONDITION (ADVICE r13): ``id_col`` values must be UNIQUE — the
    module-wide document contract, oracle-confirmed for every caller.
    With duplicate id rows the row-local distinct counts each row's
    n-grams separately where the old global (id, ngram) distinct
    collapsed them across rows of the same id.
    """
    tgt = df.withColumn("_toks", tokens(text_col)).select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(word_ngrams(F.col("_toks"), n))
        ).alias("ng"),
    )
    bench = (
        benchmark.withColumn("_toks", tokens(text_col))
        .select(F.explode(word_ngrams(F.col("_toks"), n)).alias("ng"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = tgt.join(F.broadcast(bench), on="ng", how="left")
    agg = joined.groupBy(id_col).agg(
        F.count("ng").cast("long").alias("n_ngrams"),
        F.count("_hit").cast("long").alias("n_contaminated"),
    )
    return agg.withColumn(
        "contamination",
        F.when(
            F.col("n_ngrams") > 0,
            F.round(F.col("n_contaminated") / F.col("n_ngrams"), 4),
        ).otherwise(F.lit(0.0)),
    )


def repetition_stats(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """B34 — intra-document repetition: 1 − distinct/total word n-grams —
    the cheap "degenerate repeated text" quality gate. Zero shuffle, zero
    Python: size + array_distinct on the per-row n-gram array, computed in
    the scan stage. Ratio is 0.0 for docs shorter than ``n`` words.
    """
    t = (
        df.withColumn("_toks", tokens(text_col))
        .withColumn("_grams", word_ngrams(F.col("_toks"), n))
        .withColumn("_n_total", F.size(F.col("_grams")))
        .withColumn("_n_distinct", F.size(F.array_distinct(F.col("_grams"))))
    )
    return t.select(
        F.col(id_col),
        F.col("_n_total").cast("long").alias("n_ngrams"),
        F.col("_n_distinct").cast("long").alias("distinct_ngrams"),
        F.when(
            F.col("_n_total") > 0,
            F.round(1.0 - F.col("_n_distinct") / F.col("_n_total"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("repetition"),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
    materialize_bigrams: bool = False,
) -> DataFrame:
    """B34 — perplexity-proxy quality scoring: each document's mean
    add-``alpha``-smoothed bigram log-likelihood under the corpus's OWN
    bigram model,

        score(d) = mean over bigrams (w1,w2) of
                   ln( (c(w1,w2) + α) / (c(w1) + α·V) ).

    Degenerate/templated text scores high (its bigrams dominate the
    corpus), rare-garbage scores low — the classic cheap LM filter when a
    real LM is too expensive for a first pass.

    Plan shape: bigrams are built shuffle-free (word_ngrams over the
    materialized token column); the model is two hash-aggregates (bigram
    and unigram counts — vocabulary-sized, map-side combined) broadcast
    back onto the bigram stream; one final agg by document. The unigram
    table is materialized once (vocabulary-sized — bounded regardless of
    corpus size) so V = its row count costs no extra corpus pass: the
    smoothing constant already forces one eager step, and without the
    materialization the tokenize+explode ran a THIRD time just to count
    distinct words. ``materialize_bigrams=True`` (OPT-IN) additionally
    checkpoints the bigram stream once — both the bigram-count aggregate
    and the scoring join then read the materialized (id, bigram, w1)
    rows instead of re-tokenizing (2.45 → 1.47 s at sf0.1). COST: that
    checkpoint is CORPUS-sized (one row per bigram occurrence) and
    pinned in executor memory-and-disk for the session (localCheckpoint
    has no scoped unpersist — the returned DataFrame is lazy, so there
    is no safe point to unpersist inside this function), which is
    unbounded storage at 100 TB. Hence the default is False (one extra
    tokenization pass, bounded storage: only the vocabulary-sized
    unigram table is materialized); opt in only for corpora known to
    fit executor storage (ADVICE r5).
    """
    t = df.withColumn("_toks", tokens(text_col))
    big = t.select(
        F.col(id_col), F.explode(word_ngrams(F.col("_toks"), 2)).alias("bg")
    )
    if materialize_bigrams:
        big = big.localCheckpoint(eager=True)
    uni = t.select(F.explode(F.col("_toks")).alias("w"))
    c2 = big.groupBy("bg").agg(F.count("*").alias("c2"))
    c1 = uni.groupBy("w").agg(F.count("*").alias("c1")).localCheckpoint(
        eager=True
    )
    v = c1.count()
    # r13 optimization (guide §2.3): the smoothed log-prob is a function
    # of the BIGRAM alone, so fold the (vocabulary-sized) unigram join
    # and the log into the model table and broadcast ONE (bg, lp)
    # relation — the corpus stream crosses a single broadcast join and
    # no longer carries a per-occurrence w1 split column (the former
    # plan split every occurrence and ran two broadcast joins over the
    # corpus). lp is the identical expression per distinct bigram, so
    # scores are bit-identical. Measured ~10% at sf0.1 (1.97 → 1.79 s
    # same-window isolated A/B) — the structural point is the corpus
    # stream narrowing (no w1 column, one join), which grows with scale.
    model = (
        c2.withColumn("w1", F.split(F.col("bg"), " ")[0])
        .join(c1, F.col("w1") == c1["w"])
        .select(
            "bg",
            F.log(
                (F.col("c2") + F.lit(float(alpha)))
                / (F.col("c1") + F.lit(float(alpha) * v))
            ).alias("lp"),
        )
    )
    scored = big.join(F.broadcast(model), "bg")
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 1024,
    shard_col: str | None = None,
    order_keys: "Sequence[str] | None" = None,
) -> DataFrame:
    """North-star — sequence packing for pretraining batches: stream
    documents in a deterministic order into fixed-token-budget bins; a
    document belongs to the bin in which it STARTS (offset-based packing:
    ``bin = floor(prev_cumulative_tokens / budget)``), so membership is a
    pure window cumsum — deterministic, engine-independent, oracle-able.

    Scale posture: a single global ordering would be an unpartitioned
    window (one-task bottleneck), so pack within ``shard_col`` shards —
    bins are independent across shards by construction, which is exactly
    how production packing runs (per input shard/file). Global bin id is
    (shard, bin). One shuffle on the shard key.

    Returns the input plus (n_tokens, bin).
    """
    order = [F.col(c) for c in (order_keys or [id_col])]
    part = [shard_col] if shard_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # coalesce: a NULL text must pack as a 0-token doc, not poison the
    # running sum (sum skips NULLs, shifting every later bin).
    t = df.withColumn(
        "n_tokens", F.coalesce(token_count(text_col).cast("long"), F.lit(0))
    )
    running = F.sum("n_tokens").over(w)
    return t.withColumn(
        "bin",
        F.floor((running - F.col("n_tokens")) / F.lit(float(budget))).cast("long"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """North-star — overlapping fixed-token-window chunking: split each
    document into chunks of ``window`` tokens starting every ``stride``
    tokens (overlap = window - stride), the standard long-document →
    training-sequence / retrieval-passage step. Complements
    :func:`pack_sequences` (which concatenates SHORT docs into budget
    bins; this splits LONG docs into windows).

    Pure JVM row-local work — normalize, split once (materialized column,
    per the lambda-inlining rule), one ``posexplode`` over the start
    offsets, ``slice`` + ``array_join`` per chunk. No shuffle at all: the
    operator is embarrassingly parallel and scales with the scan. Chunk
    counts per doc are ceil(n_tokens/stride), so output size is bounded
    by (1 + overlap-ratio) × corpus tokens.

    Returns (id, chunk_id, chunk_text, n_tokens); a document with no
    alphanumeric content — including NULL text, which is coalesced to ''
    before normalization so it cannot emit a NULL chunk with Spark's
    ``size(NULL) = -1`` token count — yields one chunk with its single
    empty token, same contract as ``word_stats`` token counting on both
    engines. The chunking core is ``dedup.token_windows``, shared with
    ``block_dedup`` so window/NULL contract fixes land in one place.
    """
    from ddataframeoperation_spark.operators.dedup import token_windows

    return token_windows(df, id_col, text_col, window, stride).select(
        id_col,
        F.col("win_id").alias("chunk_id"),
        F.col("win_text").alias("chunk_text"),
        "n_tokens",
    )


#: PII patterns — deliberately ASCII-explicit so Java regex (Spark) and RE2
#: (DuckDB) agree byte-for-byte. Production would extend the table; the
#: plumbing (chained regexp_replace, count-before-redact) is the operator.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{6,}", "<NUM>"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted",
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """B34 — PII scrubbing: count then redact each pattern (emails, long
    digit runs) via chained JVM-side ``regexp_replace``. Counts are taken
    BEFORE redaction so downstream filtering ("drop docs with >k PII hits")
    doesn't need a second scan. Scan-speed, no shuffle.

    NULL text propagates NULL hit counts (and a NULL redaction) — Spark's
    ``size()`` returns -1 for a NULL array, which would diverge from SQL
    NULL semantics, so the count is explicitly NULL-guarded.
    """
    out = df
    red = F.col(text_col)
    for i, (pat, _) in enumerate(patterns):
        out = out.withColumn(
            f"pii_hits_{i}",
            F.when(
                F.col(text_col).isNotNull(),
                F.size(
                    F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)
                ).cast("long"),
            ),
        )
    for pat, repl in patterns:
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn(out_col, red)


def fingerprint_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 64,
) -> DataFrame:
    """B34/B32 — near-dup candidate pairs by shared winnowing fingerprints
    (the MOSS report): explode each document's fingerprint set, self-join on
    the fingerprint value (equi-join — candidates ∝ collisions, never the
    O(n²) cross), count shared prints per pair, keep pairs sharing at least
    ``min_shared``. Map-side combine applies to the count; at 100 TB the
    exploded table is the inverted index and would be written bucketed by
    fingerprint.

    ``max_df`` drops fingerprints occurring in more than that many
    documents before the join — MOSS's boilerplate suppression. A print
    shared by m docs yields m·(m-1)/2 pair rows, so one ubiquitous
    template phrase (measured: one print in 710 of 5000 fixture docs ⇒
    252k pairs from a single bucket) turns the join quadratic; bounding
    document frequency bounds every bucket. df-1 prints are dropped by the
    same window (they can never produce a pair), and the count partitions
    on the join key so the exchange is shared with the self-join.
    ``max_df=None`` disables suppression (exact MOSS report).
    """
    fps = (
        winnow_fingerprints(df, text_col=text_col, k=k, window=window)
        .select(F.col(id_col).alias("id"), F.explode("fingerprints").alias("fp"))
        .distinct()
    )
    w = Window.partitionBy("fp")
    hi = F.lit(max_df) if max_df is not None else F.lit(2**62)
    fps = (
        fps.withColumn("_df", F.count("*").over(w))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= hi))
        .drop("_df")
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, on=[F.col("a.fp") == F.col("b.fp"), F.col("a.id") < F.col("b.id")])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: "Sequence[str]",
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """North-star retrieval — BM25 ranked search over the corpus: score
    every document against a bag of query terms with the Okapi BM25
    formula (Lucene's non-negative idf variant),

        idf(t)    = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
        score(d)  = Σ_t idf(t) · tf(t,d)·(k1+1)
                          / (tf(t,d) + k1·(1 - b + b·|d|/avgdl))

    and return the top-k. This is the lexical-retrieval twin of
    :func:`similarity.cosine_topk` (dense retrieval) — together they are
    the standard hybrid-search pair.

    Plan shape: tokenize + explode ONCE; doc lengths and the corpus
    constants (N, avgdl) come from one tiny aggregate (1-row broadcast,
    never a driver collect); term frequencies restrict to the query terms
    BEFORE the per-doc aggregate (an ``isin`` literal filter on the
    exploded stream — at 100 TB the inverted-index form of the same join);
    per-term document frequencies are query-term-bounded (≤ len(terms)
    rows — broadcast). Top-k is TakeOrdered. Everything is JVM builtins;
    scores round to 4 decimals for cross-engine comparability.
    """
    terms = sorted(set(query_terms))
    if not terms or k < 1:
        raise ValueError("need at least one query term and k >= 1")
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t")
    ).filter(F.col("t") != "")
    dlen = tok.groupBy("id").agg(F.count("*").cast("double").alias("dl"))
    consts = dlen.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("t").isin(terms))
        .groupBy("id", "t")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("t").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    scored = (
        tf.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(consts))
        .join(dlen, "id")
        .withColumn(
            "_s",
            idf
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("id")
        .agg(F.sum("_s").alias("_score"))
    )
    # Rank on the ROUNDED score with id tiebreak: the raw double can
    # differ between engines in the last ulp (sum order), which must not
    # be able to swap two near-tied docs across the top-k boundary.
    r = F.round("_score", 4)
    return (
        scored.orderBy(r.desc(), F.col("id").asc())
        .limit(k)
        .select(F.col("id").alias(id_col), r.alias("bm25"))
    )


def encode_token_ids(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    unk_id: int = 0,
) -> DataFrame:
    """North-star — dictionary-encode documents to token-id sequences: the
    "apply the tokenizer vocabulary" step between text prep and sequence
    packing. Ids are assigned deterministically by corpus frequency
    (tf desc, token asc ⇒ id 1, 2, …; the most frequent token gets the
    smallest id — the standard frequency-sorted vocab layout), tokens
    pruned below ``min_df`` map to ``unk_id``.

    Plan shape: the vocabulary (:func:`vocabulary` + one rank window over
    the VOCAB table — vocabulary-sized, not corpus-sized) broadcasts onto
    the exploded token stream; output is the flat (doc, position, token,
    token_id) form — exactly joinable/oracle-able, and `collect_list`
    over position rebuilds the dense sequence when a consumer wants
    arrays. Ranking the vocab costs one tiny single-partition window
    (bounded rows); the corpus-side work is one explode + one broadcast
    join, no corpus shuffle.
    """
    vocab = vocabulary(df, text_col=text_col, id_col=id_col, min_df=min_df)
    w = Window.orderBy(F.col("tf").desc(), F.col("token").asc())
    vocab_ids = vocab.select(
        "token", F.row_number().over(w).cast("long").alias("token_id")
    )
    tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    ).filter(F.col("token") != "")
    return (
        tok.join(F.broadcast(vocab_ids), "token", "left")
        .select(
            id_col,
            F.col("pos").cast("int").alias("pos"),
            "token",
            F.coalesce(F.col("token_id"), F.lit(unk_id).cast("long")).alias(
                "token_id"
            ),
        )
    )


def lexical_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """North-star — lexical-diversity quality signals: type-token ratio
    (distinct tokens / tokens) and bigram novelty (distinct bigrams /
    bigrams). Low TTR or low novelty flags repetitive, templated, or
    keyword-stuffed documents — the complement of
    :func:`repetition_stats`' longest-run view (these are set-based, that
    one is positional).

    Entirely row-local array expressions (tokens → ``array_distinct`` →
    ratio; bigrams via :func:`word_ngrams`): no shuffle, no explode — the
    whole operator fuses into the scan stage and scales like a projection.
    NULL text follows the round-5 contract: coalesce to '' first, which
    yields the single-empty-token array (ttr 1.0, novelty NULL).

    Returns (id, n_tokens, n_types, ttr, bigram_novelty); novelty is NULL
    for docs with fewer than two tokens (no bigrams exist).
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    d = df.withColumn("_toks", tokens(c)).withColumn(
        "_bi", word_ngrams(F.col("_toks"), 2)
    )
    n_tok = F.size("_toks")
    n_typ = F.size(F.array_distinct("_toks"))
    n_bi = F.size("_bi")
    return d.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        n_typ.cast("long").alias("n_types"),
        F.round(n_typ / n_tok, 4).alias("ttr"),
        F.when(
            n_bi > 0,
            F.round(F.size(F.array_distinct("_bi")) / n_bi, 4),
        ).alias("bigram_novelty"),
    )


def corpus_balance(
    df: DataFrame,
    group_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """North-star — corpus-balance diagnostics per group: Shannon entropy,
    HHI concentration, and top share of the ``source_col`` mix — the
    dashboard numbers behind :func:`~ddataframeoperation_spark.operators.\
sampling.temperature_mix` / ``cap_per_source`` decisions.

    Tiny (group, source) count aggregate, then a per-group window total —
    one scan; everything after the first aggregate operates on
    |groups|×|sources| rows.

    Returns (group, n_docs, n_sources, source_entropy, hhi,
    top_source_share), doubles rounded to 4.
    """
    c = df.groupBy(group_col, source_col).agg(F.count("*").alias("n"))
    tot = F.sum("n").over(Window.partitionBy(group_col))
    scored = c.select(
        group_col, F.col("n"), tot.alias("_total"), (F.col("n") / tot).alias("_p")
    )
    return scored.groupBy(group_col).agg(
        F.max("_total").cast("long").alias("n_docs"),
        F.count("*").alias("n_sources"),
        F.round(-F.sum(F.col("_p") * F.log(F.col("_p"))), 4).alias(
            "source_entropy"
        ),
        F.round(F.sum(F.pow(F.col("_p"), F.lit(2.0))), 4).alias("hhi"),
        F.round(F.max("_p"), 4).alias("top_source_share"),
    )


def corpus_datacard(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
    short_tokens: int = 20,
    n: int = 3,
) -> DataFrame:
    """North-star — one-call per-(lang, source) training-corpus data card:
    doc/token volumes, token-length quantiles, short-doc share, and mean
    intra-document n-gram repetition — the numbers a pretraining run reads
    before deciding mixture weights and quality cut-offs (the tabular
    companion to :func:`corpus_balance`'s concentration view).

    Plan: ONE corpus scan. Every per-document input (token count, n-gram
    repetition) is row-local array math computed in the scan stage; the
    single groupBy then aggregates with map-side partials into
    |lang|x|source| output rows. No windows, no joins, no second scan —
    at 100 TB the card costs one shuffle of tiny partial-aggregate rows.
    The quantiles are exact ``percentile`` (oracle-able), whose partials
    carry the group's token counts.

    Dirty-input contract: NULL ``text_col`` is coalesced to the empty
    string BEFORE tokenizing, so a NULL-text doc still counts in n_docs
    and lands in every column consistently (1 whitespace token — the
    module's empty-string convention — 0 chars, zero repetition).
    Without the coalesce, NULL would
    silently fall out of the token quantiles and short_share while still
    counting 0.0 into mean_repetition — two different denominators in
    one row.

    Returns (group_cols..., n_docs, total_tokens, p50_tokens, p90_tokens,
    avg_chars, short_share, mean_repetition), doubles rounded to 4.
    """
    t = (
        df.withColumn("_text", F.coalesce(F.col(text_col), F.lit("")))
        .withColumn("_toks", tokens("_text"))
        .withColumn("_ntok", F.size(F.col("_toks")).cast("long"))
        .withColumn("_grams", word_ngrams(F.col("_toks"), n))
        .withColumn("_ng", F.size(F.col("_grams")))
        .withColumn(
            "_rep",
            F.when(
                F.col("_ng") > 0,
                F.lit(1.0)
                - F.size(F.array_distinct(F.col("_grams"))) / F.col("_ng"),
            ).otherwise(F.lit(0.0)),
        )
    )
    return t.groupBy(*group_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum("_ntok").alias("total_tokens"),
        F.round(F.expr("percentile(_ntok, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(_ntok, 0.9)"), 4).alias("p90_tokens"),
        F.round(F.avg(F.length(F.col("_text"))), 4).alias("avg_chars"),
        F.round(
            F.avg((F.col("_ntok") < short_tokens).cast("double")), 4
        ).alias("short_share"),
        F.round(F.avg(F.col("_rep")), 4).alias("mean_repetition"),
    )


def remove_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    min_docs: int = 100,
    delimiter: str = "\n",
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-frequency boilerplate removal: delete every SEGMENT (line by
    default) that appears verbatim in at least ``min_docs`` distinct
    documents — nav menus, cookie banners, license footers. The web-text
    cleanup that per-document dedup cannot do: ``block_dedup`` keeps the
    FIRST copy of a repeated span, this removes ALL copies of
    corpus-frequent ones, because a line shared by thousands of pages is
    boilerplate in every one of them.

    Plan (100 TB posture):

    1. per-document DISTINCT segment digests (``array_distinct`` row-local,
       md5 computed BEFORE the explode so only 16-byte digests shuffle,
       never line bodies);
    2. digest frequency = one map-side-combined count (distinct-per-doc
       makes plain ``count(*)`` the distinct-doc count);
    3. the ``>= min_docs`` survivors collapse to ONE row via
       ``collect_set`` — bounded by total_lines/min_docs and in practice
       by the handful of truly shared templates — broadcast to every task;
    4. removal + re-join is a row-local higher-order ``filter`` +
       ``array_join`` over the original text: the corpus itself is NEVER
       shuffled.

    Contracts: empty segments (blank lines) are never counted as
    boilerplate — removing them would silently reflow documents; a NULL
    ``text_col`` stays NULL; surviving segments keep their original order;
    ``delimiter`` is a literal string (regex-escaped for the split).
    Output = input columns + ``out_col`` + ``n_removed``.
    """
    pat = re.escape(delimiter)
    segs = F.split(F.col(text_col), pat)
    digests = df.filter(F.col(text_col).isNotNull()).select(
        F.explode(
            F.array_distinct(
                F.filter(segs, lambda s: s != F.lit("")).cast("array<string>")
            )
        ).alias("_seg")
    ).select(F.md5(F.col("_seg")).alias("_h"))
    bp = (
        digests.groupBy("_h")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= int(min_docs))
        .agg(F.collect_set("_h").alias("_bp"))
    )
    kept = F.filter(
        segs,
        lambda s: ~F.array_contains(
            F.coalesce(F.col("_bp"), F.array().cast("array<string>")), F.md5(s)
        ),
    )
    return (
        df.crossJoin(F.broadcast(bp))
        .withColumn(
            out_col,
            F.when(
                F.col(text_col).isNull(), F.lit(None).cast("string")
            ).otherwise(F.array_join(kept, delimiter)),
        )
        .withColumn(
            "n_removed",
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.size(segs) - F.size(kept))
            .cast("long"),
        )
        .drop("_bp")
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str | Column = "text",
    top_n: int = 50,
    min_word_len: int = 2,
) -> DataFrame:
    """B34 — the merge-DISCOVERY half of BPE tokenizer training: the
    frequency of every adjacent character pair across the corpus, weighted
    by word occurrence. The most frequent pair is the next merge the
    trainer would adopt; :func:`bpe_subword_stats` is the complementary
    APPLY step that encodes with an already-learned table.

    Plan shape (the Sennrich trainer's word-frequency formulation,
    distributed): the corpus first collapses to the VOCABULARY — one
    two-phase hash aggregate from token occurrences to (word, count) —
    so the expensive per-character pair explosion runs over distinct
    words, not over every token of a 100 TB corpus. Pair extraction is a
    row-local ``transform`` over a ``sequence`` (2-grams of the word,
    all JVM expressions, no UDF), then one more map-side-combinable
    aggregate and a global top-k, which Spark plans as
    TakeOrderedAndProject — per-partition heaps, never a full sort.

    Words shorter than ``min_word_len`` have no adjacent pair and are
    dropped up front. Output: (pair, pair_count) for the ``top_n`` most
    frequent pairs, count-desc with the pair string as the deterministic
    tiebreak.
    """
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    words = df.select(
        F.explode(F.split(normalized_text(text_col), " ")).alias("w")
    ).filter((F.col("w") != "") & (F.length("w") >= int(min_word_len)))
    vocab = words.groupBy("w").agg(F.count("*").alias("_c"))
    pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "_c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("_c").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(int(top_n))
    )


#: Symbol separator for the BPE trainer's working representation — the
#: ASCII unit separator, which :func:`normalized_text` can never emit
#: (its alphabet is [a-z0-9 ]), so symbol boundaries are unambiguous.
_BPE_TRAIN_SEP = "\x1f"


def bpe_train_step(
    df: DataFrame,
    text_col: str | Column = "text",
    top_n: int = 10,
    min_word_len: int = 2,
) -> DataFrame:
    """B34 — ONE full iteration of BPE tokenizer training, end to end
    (VERDICT r8 #8, the tokenizer-fidelity check): DISCOVER the most
    frequent adjacent character pair over the word-frequency
    vocabulary, APPLY it as a merge, and RECOUNT — returning the
    post-merge pair table together with the roundtrip invariants that
    make a discovered merge trustworthy before it ships to the encode
    step (:func:`bpe_subword_stats`):

      merge_pair      the adopted merge (2 chars, count-desc / pair-asc
                      deterministic pick — the Sennrich trainer's rule)
      merge_count     its pre-merge weighted frequency
      residual_count  weighted adjacent occurrences of merge_pair AFTER
                      the merge — 0 by construction (left-to-right
                      non-overlapping replace consumes every adjacency),
                      emitted so the oracle PROVES it rather than trusts it
      broken_words    words whose symbol concatenation no longer equals
                      the word (losslessness) — 0 by construction
      pair / pair_count  the ``top_n`` post-merge symbol pairs, i.e. the
                      trainer's NEXT candidate table

    Single-step contract: starting from the character state, a plain
    string ``replace`` on the separator representation is a correct
    merge because every symbol is one character. (Iterating further
    needs boundary-aware replacement — the classic BPE pitfall where
    'b␟a' also matches across the tail of a previously merged 'ab' —
    which is what the mapInPandas encode kernel is for; the trainer
    step stays a pure JVM/SQL expression precisely because it runs
    from the character state.)

    Plan shape: the corpus collapses to the vocabulary aggregate first
    (same as :func:`bpe_pair_counts` — the pair explosion runs over
    distinct words, not corpus tokens); the adopted merge is a 1-row
    broadcast; apply + recount are row-local expressions over the
    vocabulary feeding one map-side-combinable aggregate and a
    TakeOrdered top-k. Nothing here shuffles document bodies.
    """
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    sep = _BPE_TRAIN_SEP
    words = df.select(
        F.explode(F.split(normalized_text(text_col), " ")).alias("w")
    ).filter((F.col("w") != "") & (F.length("w") >= int(min_word_len)))
    vocab = words.groupBy("w").agg(F.count("*").alias("_c"))
    char_pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "_c",
    )
    merge = (
        char_pairs.groupBy("pair")
        .agg(F.sum("_c").cast("long").alias("merge_count"))
        .orderBy(F.desc("merge_count"), "pair")
        .limit(1)
        .select(F.col("pair").alias("merge_pair"), "merge_count")
    )
    applied = vocab.crossJoin(F.broadcast(merge)).select(
        "w",
        "_c",
        "merge_pair",
        "merge_count",
        # Character state -> separator representation -> merge applied.
        F.replace(
            F.regexp_replace(F.col("w"), "(.)", "$1" + sep).substr(
                F.lit(1), F.length("w") * 2 - 1
            ),
            F.concat(
                F.col("merge_pair").substr(1, 1),
                F.lit(sep),
                F.col("merge_pair").substr(2, 1),
            ),
            F.col("merge_pair"),
        ).alias("_m"),
    )
    syms = applied.select(
        "w",
        "_c",
        "merge_pair",
        "merge_count",
        F.split("_m", sep).alias("_s"),
    )
    # Post-merge adjacent pairs, ROW-LOCAL. sequence(1, 0) in Spark is
    # the DESCENDING [1, 0], not empty — single-symbol words must take
    # the explicit empty-array branch or element_at(_s, 0) throws.
    pair_arr = F.when(
        F.size("_s") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_s") - 1),
            lambda i: F.concat(
                F.element_at("_s", i), F.lit("+"), F.element_at("_s", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    merged_as_pair = F.concat(
        F.col("merge_pair").substr(1, 1),
        F.lit("+"),
        F.col("merge_pair").substr(2, 1),
    )
    per_word = syms.select(
        "merge_pair",
        "merge_count",
        "_c",
        pair_arr.alias("_pairs"),
        (F.array_join("_s", "") != F.col("w")).cast("int").alias("_broken"),
    )
    # One row per WORD — residual and losslessness are row-local counts,
    # so the census is a single map-side-combined aggregate.
    census = per_word.groupBy("merge_pair", "merge_count").agg(
        F.sum(
            F.size(F.filter("_pairs", lambda p: p == merged_as_pair))
            * F.col("_c")
        )
        .cast("long")
        .alias("residual_count"),
        F.sum(F.col("_broken")).cast("long").alias("broken_words"),
    )
    post_pairs = (
        per_word.select(F.explode("_pairs").alias("pair"), "_c")
        .groupBy("pair")
        .agg(F.sum("_c").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(int(top_n))
    )
    return post_pairs.crossJoin(F.broadcast(census)).select(
        "merge_pair",
        "merge_count",
        "residual_count",
        "broken_words",
        "pair",
        "pair_count",
    )


def skipgram_pairs(
    df: DataFrame,
    text_col: str | Column = "text",
    window: int = 2,
    min_count: int = 1,
) -> DataFrame:
    """B34 — skip-gram co-occurrence pair counts: for every token, how
    often each other token appears within ``window`` positions to its
    RIGHT. This is the sufficient statistic for word2vec-style embedding
    training and PMI association mining over the corpus (the symmetric
    left+right count is the mirror sum, ``count(a,b) + count(b,a)``).

    Plan shape: pair generation is entirely ROW-LOCAL — for each offset
    ``j`` (a bounded Python loop unrolled into the plan, j <= window),
    ``arrays_zip`` aligns the token array with itself shifted by j; the
    concatenated struct arrays explode into (w1, w2) rows that feed one
    map-side-combinable count aggregate. Document bodies never shuffle —
    only (word, word) pairs — and the explode fan-out is
    ``window`` x corpus token count, the same order as reading the
    tokens. NULL texts contribute nothing (null token arrays are dropped
    by the explode).

    ``min_count`` prunes the long tail post-aggregate (the standard
    vocabulary floor). Output: (w1, w2, pair_count), w1 preceding w2.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    toks = tokens(text_col)
    n = F.size(toks)
    shifted = [
        # greatest(0) guards docs shorter than the offset — slice
        # rejects negative lengths.
        F.arrays_zip(
            F.slice(toks, 1, F.greatest(n - j, F.lit(0))).alias("w1"),
            F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))).alias("w2"),
        )
        for j in range(1, window + 1)
    ]
    pairs = df.select(
        F.explode(F.concat(*shifted)).alias("_p")
    ).select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    counted = (
        pairs.filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("pair_count"))
    )
    return counted.filter(F.col("pair_count") >= int(min_count))


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    out_col: str | None = None,
) -> DataFrame:
    """B23/B34 — Unicode normalization (NFC/NFKC/NFD/NFKD) of a text
    column — the canonicalization step multilingual corpora need BEFORE
    any fingerprint/dedup/tokenize pass (composed vs decomposed accents,
    full-width forms, ligatures all hash differently un-normalized;
    :func:`~ddataframeoperation_spark.operators.dedup.normalized_text`
    deliberately handles only ASCII-ish case/punctuation).

    Spark has no normalization builtin, so this is a B30-boundary
    Pandas UDF (Arrow-batched, row-local, shuffle-free — scan speed at
    any scale); the NFC path is exactly reproducible by DuckDB's
    ``nfc_normalize`` — the registered query's oracle. NULLs pass
    through as NULL.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    import unicodedata

    @F.pandas_udf("string")
    def _norm(vs: pd.Series) -> pd.Series:
        return vs.map(
            lambda t: unicodedata.normalize(form, t)
            if isinstance(t, str)
            else None
        )

    return df.withColumn(out_col or text_col, _norm(F.col(text_col)))


def skipgram_pmi(
    df: DataFrame,
    text_col: str | Column = "text",
    window: int = 2,
    min_count: int = 5,
    top_n: int = 100,
    ndigits: int = 4,
) -> DataFrame:
    """B34 — pointwise mutual information over the skip-gram pairs:
    ``pmi(a,b) = log( P(a,b) / (P(a)·P(b)) )`` with probabilities from
    the pair/marginal counts of :func:`skipgram_pairs` — the word-
    association score (collocations, multi-word expressions) word2vec
    implicitly factorizes.

    Plan: the pair counts (row-local generation, one aggregate) plus two
    marginal aggregates DERIVED FROM THE PAIR TABLE (sum over each side
    — no second corpus pass), equi-joined back on the word. P(·) ratios
    are exact-integer quotients and the log runs over bit-identical
    doubles in an identically-written expression (§20 rules). The
    ``min_count`` floor is the standard PMI guard (rare pairs otherwise
    dominate with inflated scores). Top-``top_n`` by PMI, (w1, w2)
    tiebreak.
    """
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    pairs = skipgram_pairs(df, text_col=text_col, window=window, min_count=1)
    total = pairs.agg(F.sum("pair_count").cast("long").alias("_n"))
    ma = pairs.groupBy("w1").agg(F.sum("pair_count").cast("long").alias("_c1"))
    mb = pairs.groupBy("w2").agg(F.sum("pair_count").cast("long").alias("_c2"))
    scored = (
        pairs.filter(F.col("pair_count") >= int(min_count))
        .join(ma, on="w1")
        .join(mb, on="w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.round(
                F.log(
                    (
                        F.col("pair_count").cast("double")
                        * F.col("_n").cast("double")
                    )
                    / (
                        F.col("_c1").cast("double")
                        * F.col("_c2").cast("double")
                    )
                ),
                ndigits,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(int(top_n))


def gopher_quality_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """B34 — Gopher-style document quality rule bundle (Rae et al. 2021,
    "Scaling Language Models", Appendix A — the public pretraining-corpus
    filter the MassiveText pipeline popularized): per-document signals
    plus the combined pass/fail gate. The production shape for "filter
    the crawl before tokenization": every signal is row-local builtins
    computed in the scan stage — zero shuffle, zero Python — so at 100 TB
    this runs at scan speed and the gate predicate pushes into the same
    stage as the read.

    Signals (names follow the paper's rules):
      n_words          whitespace tokens of the normalized text
      mean_word_len    word characters / words, 4dp
      symbol_ratio     (# '#' chars + '...' occurrences) / words, 4dp
      bullet_frac      fraction of lines starting with a bullet, 4dp
      ellipsis_frac    fraction of lines ending in '...', 4dp
      alpha_frac       fraction of words containing a letter, 4dp
      n_stop_hits      how many of 8 canonical English stopwords appear
      passes_gopher    50<=n_words<=100000 AND 3<=mean_word_len<=10 AND
                       symbol_ratio<=0.1 AND bullet_frac<=0.9 AND
                       ellipsis_frac<=0.3 AND alpha_frac>=0.8 AND
                       n_stop_hits>=2

    Cross-engine numerics: counts are exact integers; every ratio divides
    two exact integers in double IDENTICALLY in the oracle SQL, and the
    4dp rounding is tie-free while denominators stay < 20000 (an exact
    x.xxxx5 boundary needs a denominator divisible by 2*10^4 — SCALE.md
    §22's analysis; per-document word/line counts sit far below that).
    The pass thresholds compare the same doubles on both engines. The
    ellipsis count uses non-overlapping replace() semantics, identical in
    Spark and DuckDB.
    """
    from ddataframeoperation_spark.operators.dedup import normalized_text

    c = F.col(text_col)
    norm = normalized_text(text_col)
    toks = F.split(norm, " ")
    n_words = F.when(norm == "", F.lit(0)).otherwise(F.size(toks))
    # word chars = normalized length minus the (n_words - 1) separators
    word_chars = F.when(
        n_words > 0, F.length(norm) - (n_words - F.lit(1))
    ).otherwise(F.lit(0))
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(
            lines,
            lambda x: x.startswith("- ")
            | x.startswith("* ")
            | x.startswith("• "),
        )
    )
    n_ell_lines = F.size(F.filter(lines, lambda x: x.endswith("...")))
    n_alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    stop = F.concat(F.lit(" "), norm, F.lit(" "))
    stopwords = ("the", "be", "to", "of", "and", "that", "have", "with")
    n_stop = sum(
        F.when(stop.contains(f" {w} "), 1).otherwise(0) for w in stopwords
    )
    d = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        word_chars.cast("long").alias("_wc"),
        n_hash.cast("long").alias("_nh"),
        n_ellipsis.cast("long").alias("_ne"),
        n_lines.cast("long").alias("_nl"),
        n_bullet.cast("long").alias("_nb"),
        n_ell_lines.cast("long").alias("_nel"),
        n_alpha_words.cast("long").alias("_naw"),
        n_stop.cast("long").alias("n_stop_hits"),
    )
    mean_wl = F.when(F.col("n_words") > 0, F.col("_wc") / F.col("n_words"))
    sym = F.when(
        F.col("n_words") > 0, (F.col("_nh") + F.col("_ne")) / F.col("n_words")
    )
    bullet = F.col("_nb") / F.col("_nl")
    ell = F.col("_nel") / F.col("_nl")
    alpha = F.when(F.col("n_words") > 0, F.col("_naw") / F.col("n_words"))
    passes = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (sym <= 0.1)
        & (bullet <= 0.9)
        & (ell <= 0.3)
        & (alpha >= 0.8)
        & (F.col("n_stop_hits") >= 2)
    )
    return d.select(
        id_col,
        "n_words",
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(sym, 4).alias("symbol_ratio"),
        F.round(bullet, 4).alias("bullet_frac"),
        F.round(ell, 4).alias("ellipsis_frac"),
        F.round(alpha, 4).alias("alpha_frac"),
        "n_stop_hits",
        F.coalesce(passes, F.lit(False)).alias("passes_gopher"),
    )


def packing_efficiency(
    df: DataFrame,
    budget: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str | None = None,
    order_keys: "Sequence[str] | None" = None,
) -> DataFrame:
    """North-star — the efficiency report for :func:`pack_sequences`:
    per shard, how full the fixed-budget training bins actually are and
    how many documents overflow a single bin — the two numbers that
    decide whether the packing budget (context length) and shard
    ordering are wasting accelerator steps.

      n_docs         documents packed
      n_bins         bins in which at least one document STARTS
                     (offset-based packing assigns a doc to the bin of
                     its first token; start bins are contiguous 0..max)
      total_tokens   exact token sum
      fill_bp        total_tokens * 10000 div (n_bins * budget) — mean
                     fill of the opened bins in basis points. 10000 =
                     exactly full; BELOW means trailing slack; ABOVE
                     10000 is possible and is itself a signal — docs
                     longer than the budget spill tokens past their
                     start bin, i.e. the corpus needs chunking before
                     packing
      oversize_docs  docs with n_tokens > budget — each forces
                     truncation or splitting downstream

    All integers. Cost: the same one shard-key window shuffle as
    pack_sequences, then a map-side-combined per-shard aggregate;
    output bounded by |shards|.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    packed = pack_sequences(
        df,
        id_col=id_col,
        text_col=text_col,
        budget=budget,
        shard_col=shard_col,
        order_keys=order_keys,
    )
    keys = [shard_col] if shard_col else []
    g = packed.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.max("bin") + 1).cast("long").alias("n_bins"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum((F.col("n_tokens") > budget).cast("int"))
        .cast("long")
        .alias("oversize_docs"),
    )
    return g.select(
        *keys,
        "n_docs",
        "n_bins",
        "total_tokens",
        F.expr(f"(total_tokens * 10000) div (n_bins * {int(budget)})").alias(
            "fill_bp"
        ),
        "oversize_docs",
    )


def vocab_overlap_by_source(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """B34 — cross-source vocabulary overlap census: per source, how big
    its distinct vocabulary is and how much of it appears NOWHERE else —
    the lexical-distinctiveness read on a corpus mixture. A source whose
    vocabulary is almost entirely shared adds volume, not coverage; one
    dominated by exclusive tokens is the diversity (or the noise) in the
    mix — the token-level companion to the doc-level corpus_balance and
    source_mix diagnostics.

      vocab_size      distinct normalized tokens in the source
      exclusive       of those, tokens appearing in NO other source
      exclusive_bp    exclusive · 10000 div vocab_size (0 for an
                      empty-vocabulary source never happens: every doc
                      yields >=1 token under the '' -> [''] contract,
                      so vocab_size >= 1)

    Plan: distinct (source, token) pairs (map-side combine collapses
    repeats before the shuffle), one count of sources per token (the
    vocabulary aggregate — bounded by |vocab|, not the corpus), a
    broadcast-joinable per-token source count folded back, one
    |sources|-row report. Document bodies never shuffle — only the
    distinct pair set does, the same posture as tf-idf.
    """
    # coalesce BEFORE tokenizing: a NULL-text doc must contribute the
    # empty-document token under the '' -> [''] contract, not vanish
    # (explode of a NULL array emits no row — a silent engine-side drop
    # a SQL oracle would not reproduce).
    pairs = (
        df.select(
            F.col(group_col).alias("_grp"),
            F.explode(
                F.array_distinct(
                    tokens(F.coalesce(F.col(text_col), F.lit("")))
                )
            ).alias("_tok"),
        )
        .distinct()
    )
    per_tok = pairs.groupBy("_tok").agg(
        F.count(F.lit(1)).cast("long").alias("_nsrc")
    )
    joined = pairs.join(per_tok, "_tok")
    g = joined.groupBy(F.col("_grp").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("_nsrc") == 1, 1).otherwise(0))
        .cast("long")
        .alias("exclusive"),
    )
    return g.select(
        group_col,
        "vocab_size",
        "exclusive",
        F.expr("(exclusive * 10000) div vocab_size").alias("exclusive_bp"),
    )


# --------------------------------------------------------------------------
# URL hygiene — canonicalization + registrable-domain extraction
# --------------------------------------------------------------------------

#: Query parameters stripped by canonicalize_url: the tracking families
#: that make one page fetch as many URLs. Matched against the full
#: param token as `^(name)(=|$)` — utm_* is a prefix family.
TRACKING_PARAM_REGEX = "^(utm_[^=]*|ref|fbclid|gclid|mc_eid)(=|$)"

#: Stub public-suffix list for registrable_domain, longest-match-first.
#: Production swaps in the real PSL (~9k entries) the same way the
#: boilerplate remover ships its phrase set: as a broadcast lookup —
#: the CASE chain below is the small-list fast path, not a design limit.
PUBLIC_SUFFIXES = ("co.uk", "org.uk", "com.au", "co.jp", "com", "org",
                   "net", "io", "dev", "uk", "au", "jp")


def canonicalize_url(col: str | Column = "url") -> Column:
    """B34 — canonical form of an absolute http(s) URL, entirely in JVM
    regex/string builtins (codegen'd, shuffle-free, no UDF). The exact
    normalization contract, in order:

      1. trim surrounding whitespace
      2. lowercase the scheme and host (path/query case is preserved)
      3. drop the fragment (``#...``)
      4. drop userinfo (``user:pass@``)
      5. drop the scheme's default port (``:80`` http, ``:443`` https)
      6. drop one leading ``www.`` label
      7. drop tracking params (:data:`TRACKING_PARAM_REGEX`), sort the
         survivors bytewise, rejoin with ``&`` (no ``?`` when none left)
      8. strip trailing ``/`` runs from the path

    Percent-encoding, IDN/punycode, and relative URLs are OUT of the
    contract (stated, not silent): inputs pass through this pipeline
    best-effort and equal inputs still canonicalize equally. NULL → NULL.
    The same eight steps are mirrored verbatim in the DuckDB oracle of
    ``b34_url_canonicalize`` — every step is plain anchored regex, no
    engine URL library on either side.
    """
    u = F.trim(F.col(col)) if isinstance(col, str) else F.trim(col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")
    hostport = F.regexp_extract(rest, r"^([^/?]+)", 1)
    host = F.lower(F.regexp_replace(hostport, r"^[^@]*@", ""))
    host = (
        F.when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .otherwise(host)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    pathq = F.regexp_replace(rest, r"^[^/?]+", "")
    path = F.regexp_replace(
        F.regexp_extract(pathq, r"^([^?]*)", 1), r"/+$", ""
    )
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_REGEX),
        )
    )
    qs = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def registrable_domain(
    host: Column,
    suffixes: "tuple[str, ...]" = PUBLIC_SUFFIXES,
) -> Column:
    """B34 — eTLD+1 of a lowercase host under a public-suffix list:
    the longest matching suffix wins (``a.b.co.uk`` → ``b.co.uk``, not
    ``co.uk``); a host with no matching suffix (or that IS a bare
    suffix) returns unchanged. Pure CASE-over-regex — the stub-PSL fast
    path; see :data:`PUBLIC_SUFFIXES` for the broadcast-table posture
    at real PSL size."""
    ordered = sorted(suffixes, key=lambda s: (-s.count("."), -len(s)))
    out = host
    expr = None
    for sfx in ordered:
        pat = r"([^.]+\." + re.escape(sfx) + r")$"
        cond = host.endswith("." + sfx)
        branch = F.regexp_extract(host, pat, 1)
        expr = (
            F.when(cond, branch) if expr is None else expr.when(cond, branch)
        )
    return expr.otherwise(out) if expr is not None else out


def canonical_host(col: str | Column = "url") -> Column:
    """The canonical (lowercased, deported, de-www'd) host of a URL —
    step 2/4/5/6 of :func:`canonicalize_url`, for callers that key on
    domain rather than full URL."""
    u = F.trim(F.col(col)) if isinstance(col, str) else F.trim(col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")
    hostport = F.regexp_extract(rest, r"^([^/?]+)", 1)
    host = F.lower(F.regexp_replace(hostport, r"^[^@]*@", ""))
    host = (
        F.when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .otherwise(host)
    )
    return F.regexp_replace(host, r"^www\.", "")


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
    materialize_bigrams: bool = False,
) -> DataFrame:
    """B34 — the CCNet bucketing step: split each language's documents
    into ``n_buckets`` equal-count perplexity bands (head = most fluent
    under the corpus LM, tail = most surprising) from
    :func:`bigram_lm_scores`. Per-language tertiles rather than one
    global cut is the load-bearing detail — LM scores are not comparable
    across languages, and a global threshold silently drops whole
    low-resource languages (the mistake CCNet exists to avoid).

    Bucket assignment is ntile over (score DESC, id ASC) per language —
    the ROUNDED (4dp) score plus the id tiebreak makes the order, and
    therefore every bucket boundary, a deterministic function of the
    data (no float partial-sum order can flip a document's band).
    Documents with <2 tokens have no bigrams and no score: excluded,
    same as the scorer.

    Plan: the scorer's passes + one window shuffle on the language key
    (bounded partitions = languages; per-language ntile is a single
    ordered pass). Returns (id, lang, n_bigrams, avg_logprob,
    ppl_bucket 1..n_buckets).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    scores = bigram_lm_scores(
        df, id_col=id_col, text_col=text_col,
        materialize_bigrams=materialize_bigrams,
    )
    keyed = scores.join(
        df.select(F.col(id_col), F.col(lang_col)), id_col
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.col("avg_logprob").desc(), F.col(id_col).asc()
    )
    return keyed.select(
        id_col,
        lang_col,
        "n_bigrams",
        "avg_logprob",
        F.ntile(n_buckets).over(w).cast("int").alias("ppl_bucket"),
    )


def token_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """B34 — the corpus novelty curve: per document (in ``id_col``
    ingestion order), how much of its vocabulary the corpus has never
    seen before. A feed whose novelty_bp collapses is re-crawling itself
    — the cheap redundancy monitor you run BEFORE paying for minhash;
    the flip side (high novelty late in the feed) flags domain drift.

    A token is NOVEL in the document holding its global minimum id.
    Output per document with ≥1 token: (id, n_tokens — occurrences,
    n_distinct, n_novel, novelty_bp = n_novel·10⁴ div n_distinct —
    DECIMAL-lifted like every basis-point ratio here). Empty/NULL-text
    documents emit nothing (stated; they have no vocabulary to score).

    Plan: one tokenize+explode, per-doc occurrence and distinct-set hash
    aggregates, and a vocabulary-sized min-id table joined back on the
    token — shuffles carry (doc, token) pairs and the vocabulary, never
    text. The first-seen attribution is a GLOBAL min per token, so it is
    partitioning/engine-exact — no window, no order dependence.
    """
    tk = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
    )
    occ = tk.groupBy("id").agg(F.count(F.lit(1)).alias("n_tokens"))
    dt = tk.distinct()
    fst = dt.groupBy("tok").agg(F.min("id").alias("first_doc"))
    nov = (
        dt.join(fst, "tok")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(
                F.when(F.col("first_doc") == F.col("id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        occ.join(nov, "id")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_distinct",
            "n_novel",
            F.expr(
                "(CAST(n_novel AS DECIMAL(38,0)) * 10000) div n_distinct"
            )
            .cast("long")
            .alias("novelty_bp"),
        )
    )


def keyword_pagerank(
    df: DataFrame,
    text_col: str | Column = "text",
    window: int = 2,
    min_count: int = 3,
    n_iter: int = 6,
    k: int = 15,
    arrow_kernel: bool = False,
) -> DataFrame:
    """B34 — TextRank-style corpus keywords: PageRank over the token
    co-occurrence graph (edges = :func:`skipgram_pairs` within
    ``window``, symmetrized and pre-summed; ``min_count`` bounds the
    graph to the vocabulary that matters). Centrality beats raw
    frequency for keywording because a token that co-occurs with MANY
    distinct frequent tokens outranks one that repeats inside a single
    boilerplate phrase — frequency's classic failure.

    Pure composition of two already-exact operators: the edge counts are
    integers and :func:`dedup.pagerank` runs its fixed-point integer
    recurrence, so the top-``k`` (rank DESC, token ASC — stated
    tiebreak) is engine-exact end to end. Self-loops (a token repeating
    within its own window) are kept — they are real co-occurrence mass
    and both engines treat them identically.

    Plan: the skipgram explode+count (row-local pair generation), one
    (src,dst) aggregate, then ``n_iter`` vocabulary-sized join+agg
    rounds and a TakeOrdered. The aggregated edge relation is
    materialized ONCE (it is vocabulary-bounded, not corpus-sized)
    before nodes derive from it and PageRank truncates its own
    per-round state — so the corpus-wide skipgram explode executes
    exactly once regardless of ``n_iter`` (it previously re-ran for
    the node list and per-round dangling joins: 8 corpus scans at
    n_iter=6). The edge relation and PageRank's rounds are materialized
    by ``dedup._truncate``: a reliable checkpoint when the context has a
    checkpoint directory, else ``localCheckpoint``.
    """
    from ddataframeoperation_spark.operators.dedup import _truncate, pagerank

    pairs = skipgram_pairs(
        df, text_col, window=window, min_count=min_count
    )
    edges = _truncate(
        pairs.select(
            F.col("w1").alias("src"),
            F.col("w2").alias("dst"),
            F.col("pair_count").alias("w"),
        )
        .unionAll(
            pairs.select(
                F.col("w2").alias("src"),
                F.col("w1").alias("dst"),
                F.col("pair_count").alias("w"),
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    # arrow_kernel: the min_count-pruned vocabulary graph is bounded by
    # construction, so the caller may run all rounds in pagerank's
    # single exact-integer kernel (bit-identical; see dedup.pagerank).
    ranks = pagerank(nodes, edges, n_iter=n_iter, arrow_kernel=arrow_kernel)
    return (
        ranks.orderBy(F.col("rank_units").desc(), F.col("id").asc())
        .limit(k)
        .select(F.col("id").alias("token"), "rank_units")
    )


def preference_pairs(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    score_col: str = "score",
    margin_min: float = 0,
) -> DataFrame:
    """North-star — preference-pair assembly for DPO/RLHF-style tuning:
    within each ``group_col`` (the prompt / task key), pair the
    highest-scoring candidate as *chosen* against the lowest-scoring as
    *rejected*, with the stated tiebreak LOWEST ``id_col`` on equal
    scores at either end. Groups with fewer than two candidates, or
    whose best-minus-worst ``margin`` is not strictly above
    ``margin_min``, emit nothing — an equal-score group carries no
    preference signal (and dropping it also guarantees
    chosen_id ≠ rejected_id). NULL scores are excluded as candidates.

    ``score_col`` must be numeric (reward-model score, quality score,
    token count, …); margins inherit its type, so an integer score
    yields engine-exact integer output — the registered query's form.

    Plan: ONE map-side-combined aggregate per group —
    ``min(struct(-score, id))`` picks the chosen (highest score, lowest
    id) and ``min(struct(score, id))`` the rejected, the same
    hash-aggregate argmin shape as ``similarity.semantic_join``'s
    top-1 — no window sort, no self-join; the single shuffle carries
    one row per (task, group). At 100 TB this is the cheapest possible
    per-prompt reduction.

    Output: (``group_col``, chosen_id, rejected_id, chosen_score,
    rejected_score, margin, n_candidates long).
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.col(score_col).alias("_s"),
    ).filter(F.col("_s").isNotNull())
    agg = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.min(
            F.struct((-F.col("_s")).alias("ns"), F.col("_id").alias("i"))
        ).alias("_c"),
        F.min(
            F.struct(F.col("_s").alias("s"), F.col("_id").alias("i"))
        ).alias("_r"),
    )
    return (
        agg.filter(F.col("_n") >= 2)
        .select(
            F.col("_g").alias(group_col),
            F.col("_c.i").alias("chosen_id"),
            F.col("_r.i").alias("rejected_id"),
            (-F.col("_c.ns")).alias("chosen_score"),
            F.col("_r.s").alias("rejected_score"),
            (-F.col("_c.ns") - F.col("_r.s")).alias("margin"),
            F.col("_n").alias("n_candidates"),
        )
        .filter(F.col("margin") > F.lit(margin_min))
    )
