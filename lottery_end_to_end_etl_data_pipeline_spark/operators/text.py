"""Text-analysis operators for training-data pipelines.

All hot-path logic is built-in `pyspark.sql.functions` (JVM-side,
whole-stage codegen): tokenization via split, ratios via regexp
counts, language ID via lexicon intersection, fingerprints via md5 of
a canonical token form. The lone Python kernel is `normalize_text`
(unicodedata has no JVM builtin) — Arrow-batched, never row-at-a-time;
everything else runs at scan speed in whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd  # Arrow-batched kernels only (normalize_text)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword lexicons for the language-ID heuristic.
LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "von"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "he2", "wo3", "ta1"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (lower-cased)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: word-piece regex split — words, digits
    runs, and individual punctuation count separately (a cheap proxy
    for subword tokenizers when budgeting training data)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.filter(
            F.split(c, r"(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])"), lambda x: F.trim(x) != ""
        )
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach quality-scoring features: length, token stats,
    punctuation/digit/stopword ratios, and a composite [0,1] score
    (length-normalized heuristic in the C4/Gopher lineage)."""
    toks = tokens(text_col)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(text_col).cast("double")
    n_stop = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in EN_STOPWORDS])))
    punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]")).cast("double")
    digits = F.regexp_count(F.col(text_col), F.lit(r"\d")).cast("double")
    out = (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn("avg_token_len", F.round(n_chars / F.greatest(n_tok, F.lit(1.0)), 4))
        .withColumn("punct_ratio", F.round(punct / F.greatest(n_chars, F.lit(1.0)), 4))
        .withColumn("digit_ratio", F.round(digits / F.greatest(n_chars, F.lit(1.0)), 4))
        .withColumn(
            "stopword_hits", n_stop.cast("double")
        )
    )
    score = (
        F.when(F.col("n_tokens") < 5, 0.0)
        .when(F.col("punct_ratio") > 0.3, 0.2)
        .otherwise(
            F.least(
                F.lit(1.0),
                F.round(
                    0.5
                    + 0.5 * F.least(F.col("n_tokens") / 200.0, F.lit(1.0))
                    - F.col("digit_ratio"),
                    4,
                ),
            )
        )
    )
    return out.withColumn("quality_score", score)


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: count lexicon hits per language (distinct
    token intersection), argmax with deterministic lexicographic
    tie-break. Pure column expressions → runs at scan speed.

    The tokenization, the per-language score array, and the max are
    STAGED through intermediate columns: inlining them repeats the
    token-split expression once per lexicon and the score array once
    per consumer (no cross-expression common-subexpression
    elimination through HOF lambdas — measured 4-5× slower)."""
    staged = df.withColumn("_li_toks", F.array_distinct(tokens(text_col)))
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(
                        F.col("_li_toks"), F.array(*[F.lit(w) for w in lex])
                    )
                ).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, lex in sorted(LANG_LEXICONS.items())
        ]
    )
    staged = staged.withColumn("_li_scored", scored).withColumn(
        "_li_best", F.array_max(F.transform(F.col("_li_scored"), lambda s: s["hits"]))
    )
    # ties pick the lexicographically SMALLEST language (filter-max
    # idiom — array_max over the struct would take the LARGEST lang)
    best_lang = F.array_min(
        F.transform(
            F.filter(
                F.col("_li_scored"), lambda s: s["hits"] == F.col("_li_best")
            ),
            lambda s: s["lang"],
        )
    )
    return (
        staged.withColumn(
            out_col,
            F.when(F.col("_li_best") > 0, best_lang).otherwise(F.lit("und")),
        )
        .drop("_li_toks", "_li_scored", "_li_best")
    )


def fingerprint(text: Column | str) -> Column:
    """Canonical-form document fingerprint: md5 over the sorted
    distinct token multiset — engine-portable (unlike xxhash64) and
    stable under token reordering, the property near-dup triage wants."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def rolling_hash_fingerprint(text_col: str, window: int = 8) -> Column:
    """Winnowing-style fingerprint: minimum xxhash64 over character
    n-grams — the classic rolling-hash document signature. Engine-
    specific hash → verify rows-only (no SQL oracle). Takes a column
    NAME (composed via expr for the dynamic-start substring)."""
    return F.expr(
        f"array_min(transform(sequence(1, greatest(length({text_col}) - {window} + 1, 1)), "
        f"i -> xxhash64(substring({text_col}, i, {window}))))"
    )


# PII patterns written in the RE2∩java.util.regex common dialect (no
# backrefs, no lookaround) so the Spark expressions and a DuckDB/RE2
# oracle see identical matches.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Chained regexp_replace scrub: each PII class becomes a typed
    placeholder token (``<EMAIL>``, ``<IPV4>``, ...). Pure JVM column
    ops — runs at scan speed; order is dict order (email before phone
    so digit-bearing local parts are consumed as emails first)."""
    col = F.col(text_col)
    for name, pat in (patterns or PII_PATTERNS).items():
        col = F.regexp_replace(col, pat, f"<{name.upper()}>")
    return df.withColumn(out_col or text_col, col)


def pii_counts(df: DataFrame, text_col: str = "text", patterns: dict[str, str] | None = None) -> DataFrame:
    """Per-row PII occurrence counts (one long column per class) —
    the audit/triage pass that decides whether a source needs
    scrubbing at all."""
    out = df
    for name, pat in (patterns or PII_PATTERNS).items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        )
    return out


#: Credential-shaped patterns, same RE2-portable dialect as
#: PII_PATTERNS. These catch STRUCTURE (issuer prefixes + charset +
#: length), the way real secret scanners (trufflehog/gitleaks rule
#: packs, public) do — entropy scoring is the second-pass refinement.
SECRET_PATTERNS: dict[str, str] = {
    "aws_key": r"AKIA[0-9A-Z]{16}",
    "api_token": r"sk-[A-Za-z0-9]{24}",
    "hex_secret": r"[0-9a-f]{40}",
}


def secret_counts(
    df: DataFrame, text_col: str = "text", patterns: dict[str, str] | None = None
) -> DataFrame:
    """Per-row credential-leak counts (one long column per class) +
    an `any_secret` flag — the scan every training-data pipeline runs
    before text leaves quarantine (leaked keys in a public corpus are
    both a privacy incident and a memorization hazard). Pure
    `regexp_count` columns: JVM-side, one pass, no UDF."""
    out = df
    flags = []
    for name, pat in (patterns or SECRET_PATTERNS).items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        )
        flags.append(F.col(f"n_{name}") > 0)
    any_col = flags[0]
    for f in flags[1:]:
        any_col = any_col | f
    return out.withColumn("any_secret", any_col)


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a bag-of-terms query —
    the classic corpus-ranking primitive (quality/relevance filtering
    in training-data pipelines, retrieval eval sets).

    Plan shape: one explode of the tokenized corpus filtered to the
    query terms (postings for non-query terms never materialize),
    groupBy (doc, term) for tf, a broadcast of the tiny per-term df
    table for idf, and a broadcast of the 1-row (avgdl, n_docs)
    aggregate — both corpus scalars come out of ONE pass over the
    doc lengths (no separate count job) — so the corpus shuffles
    once, on (doc, term), and everything else is broadcast-joined.
    Returns (id, score) for docs matching ≥1 term; idf uses the
    Robertson-Sparck-Jones form ln(1 + (N - df + 0.5)/(df + 0.5)).

    The tokenization is localCheckpointed: three branches (doc
    length, postings explode, the count) would otherwise each
    re-derive the interpreted split/filter (see
    operators/dedup.py::ngram_jaccard_pairs for the mechanism)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = (
        df.repartition(n_part, F.col(id_col))
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("tk"))
        .localCheckpoint(eager=True)
    )
    dl = toks.select("id", F.size("tk").cast("double").alias("dl"))
    corpus_stats = dl.agg(
        F.avg("dl").alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    postings = (
        toks.select("id", F.explode("tk").alias("term"))
        .filter(F.col("term").isin([t.lower() for t in query_terms]))
    )
    tf = postings.groupBy("id", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(corpus_stats))
        .withColumn(
            "contrib",
            idf
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("id")
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization + control-char strip + whitespace
    collapse — the canonicalization pass that runs before hashing/
    dedup so visually-identical strings (composed vs decomposed
    accents, zero-width junk) hash identically.

    Unicode normalization has no JVM built-in, so this is the
    documented Pandas-kernel case: an Arrow-batched Series.map over
    `unicodedata.normalize` (C implementation). The control/zero-width
    strip and whitespace collapse stay in the same kernel to avoid a
    second pass."""
    import re as _re
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    ctrl = _re.compile(
        "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f"
        "\u200b\u200c\u200d\ufeff]"
    )
    ws = _re.compile(r"\s+")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            x = unicodedata.normalize(form, x)
            x = ctrl.sub("", x)
            return ws.sub(" ", x).strip()

        return s.map(one)

    return df.withColumn(out_col or text_col, _norm(F.col(text_col)))


def bigrams_of(toks_col: Column) -> Column:
    """Adjacent 2-grams of a token ARRAY column, joined with a single
    space. Pure JVM higher-order functions (transform with index +
    F.get), no explode and no UDF. Empty array for < 2 tokens.

    Pass a MATERIALIZED array column (a projected `tokens(...)`
    column), not the tokenization expression inline: the lambda's
    `F.get(toks, i+1)` re-evaluates whatever expression `toks` is
    PER ELEMENT, so an inline split degrades to O(len²) re-splitting
    — measured 8x slower at sf0.1."""
    n = F.size(toks_col)
    return F.transform(
        F.slice(toks_col, F.lit(1), F.greatest(n - 1, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.get(toks_col, i + 1)),
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-lineage repetition stats per document (Rae et al. 2021,
    "Scaling Language Models", §A1.1 repetition filters — public
    paper): the boilerplate/loop detector that runs before training.

    Adds:
      - ``n_words``          whitespace token count
      - ``dup_word_frac``    1 - distinct_words/total_words (narrow,
                             per-row `array_distinct` — no shuffle)
      - ``top_bigram_count`` occurrences of the most frequent word
                             2-gram (ties broken by lexicographically
                             greatest gram, so the result is
                             deterministic across engines)
      - ``top_bigram_frac``  top_bigram_count / (n_words - 1)

    Scale shape: the bigram counts need a per-(doc, gram) aggregate —
    explode feeds ONE hash aggregate keyed by (id, gram) with map-side
    partial aggregation (a hot gram collapses within each task before
    the exchange), then a second per-id aggregate and a keyed join
    back to the narrow stats. Two exchanges total, both on keys whose
    cardinality grows with the data (no single-reducer stage); AQE
    handles a skewed doc. Docs with < 2 words get count 0 / frac 0.
    """
    base = df.withColumn("_toks", tokens(text_col)).withColumn(
        "n_words", F.size("_toks")
    )
    narrow = base.withColumn(
        "dup_word_frac",
        F.when(
            F.col("n_words") > 0,
            F.round(
                1.0
                - F.size(F.array_distinct("_toks"))
                / F.col("n_words").cast("double"),
                4,
            ),
        ).otherwise(F.lit(0.0)),
    ).drop("_toks")

    grams = base.select(
        F.col(id_col), F.explode(bigrams_of(F.col("_toks"))).alias("gram")
    )
    top = (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("_top"),
            F.sum("cnt").alias("_n_bigrams"),
        )
        .select(
            id_col,
            F.col("_top.cnt").alias("top_bigram_count"),
            F.round(
                F.col("_top.cnt") / F.col("_n_bigrams").cast("double"), 4
            ).alias("top_bigram_frac"),
        )
    )
    out = narrow.join(top, on=id_col, how="left")
    return out.fillna({"top_bigram_count": 0, "top_bigram_frac": 0.0})


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap
    perplexity proxy for gibberish/low-diversity triage (base64
    blobs score high, repeated-character runs score near zero;
    natural text sits ~4-4.5 bits). One explode to (doc, char)
    counts, then a per-doc aggregate using
    H = log2(N) - Σ c·log2(c) / N — a single pass over the counts,
    no second join for N. Both exchanges key on data-proportional
    columns; scan-speed at 100 TB.

    Entropy is a deterministic function of the integer character
    counts, so the 4-dp rounding is engine-stable (same discipline
    as the corr/cov entries)."""
    chars = df.select(
        id_col, F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return counts.groupBy(id_col).agg(
        n.alias("n_chars"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.round(
            F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n,
            4,
        ).alias("entropy_bits"),
    )


def bigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Self-trained bigram language-model scoring — the cheap stand-in
    for the KenLM perplexity filter of CCNet (Wenzek et al. 2020,
    public paper): train bigram MLE counts on the corpus itself, then
    score each document by its mean log2 P(w2 | w1) =
    log2(c(w1 w2) / c(w1 ·)). Documents full of corpus-typical
    transitions score near 0; rare/garbled transitions push the score
    negative. Because the model is trained on the scored corpus,
    every document bigram is observed — no smoothing term, so the
    score is a deterministic function of integer counts (ROUND-stable
    across engines).

    Shape: one materialized tokenization (bigrams_of requires an
    attribute, not an inline split — the HOF lambda re-evaluates
    outer EXPRESSIONS per element), one bigram frequency aggregate,
    one continuation aggregate derived FROM the bigram table (c(w1 ·)
    = Σ_w2 c(w1,w2) — no second pass over the corpus), and one join
    back keyed on the bigram string. All exchanges key on
    data-proportional columns; docs with < 2 tokens are reported with
    n_bigrams = 0 and NULL score."""
    toks = df.select(id_col, tokens(text_col).alias("_toks"))
    bg = toks.select(id_col, F.explode_outer(bigrams_of(F.col("_toks"))).alias("bg"))
    c12 = bg.filter(F.col("bg").isNotNull()).groupBy("bg").agg(
        F.count(F.lit(1)).alias("c12")
    )
    c1 = c12.groupBy(F.substring_index("bg", " ", 1).alias("w1")).agg(
        F.sum("c12").alias("c1")
    )
    probs = c12.join(
        c1, F.substring_index(F.col("bg"), " ", 1) == F.col("w1")
    ).select("bg", (F.log2("c12") - F.log2("c1")).alias("logp"))
    return (
        bg.join(probs, "bg", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.col("bg")).alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("avg_log2p"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hash_chars: int = 3,
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, arXiv:2302.03169 — public paper): hashed unigram features
    (bucket = first `n_hash_chars` hex chars of md5(token) — 4096
    buckets by default, engine-portable), per-bucket counts over the
    target rows (`target_pred` true) and the raw rest build two
    add-one-smoothed multinomials, and each document's importance is
    sum over its tokens of log(p_target(bucket)/p_raw(bucket)).
    High-importance raw docs are the ones DSIR resamples into the
    training mix.

    Output: (id_col, n_toks, importance) per document.

    Scale shape — the reason DSIR hashes at all: the model is a
    FIXED-SIZE table (16^n buckets) regardless of corpus size, so it
    broadcasts; the token stream is scanned twice (once to count,
    once to score) with one bucket-keyed aggregate and one id-keyed
    aggregate as the only exchanges. No vocabulary join, no
    quadratic term, Python nowhere."""
    vocab_size = 16 ** n_hash_chars
    toks = df.select(
        id_col, target_pred.alias("_t"), F.explode(tokens(text_col)).alias("_w")
    ).withColumn("_b", F.substring(F.md5("_w"), 1, n_hash_chars))
    cnt = toks.groupBy("_b").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("_ct"),
        F.sum(F.when(~F.col("_t"), 1).otherwise(0)).alias("_cr"),
    )
    tot = cnt.agg(F.sum("_ct").alias("_nt"), F.sum("_cr").alias("_nr"))
    lr = (
        cnt.crossJoin(F.broadcast(tot))
        .withColumn(
            "_lr",
            F.log((F.col("_ct") + 1) / (F.col("_nt") + vocab_size).cast("double"))
            - F.log((F.col("_cr") + 1) / (F.col("_nr") + vocab_size).cast("double")),
        )
        .select("_b", "_lr")
    )
    return (
        toks.join(F.broadcast(lr), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.sum("_lr"), 4).alias("importance"),
        )
    )


def collocations_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Collocation extraction by pointwise mutual information
    (Church & Hanks 1990 — public paper): PMI(w1,w2) =
    ln(p(w1 w2) / (p(w1) p(w2))), bigram probability over adjacent
    pairs, unigram probabilities over the token stream; pairs seen
    fewer than `min_count` times are dropped (PMI's classic
    low-count pathology), top-k by (rounded PMI, w1, w2) — fully
    deterministic.

    Scale shape: bigrams come from the zero-shuffle array form
    (`bigrams_of` — no explode-join); then two hash aggregates
    (bigram counts, unigram counts), the scalar totals as 1-row
    broadcasts, and two broadcast-or-hash joins keyed on single
    words. At web scale the unigram table is the big side but joins
    word-keyed — the same postings discipline as BM25/TF-IDF here."""
    toks = df.select(id_col, tokens(text_col).alias("_tk"))
    words = toks.select(F.explode("_tk").alias("w"))
    uni = words.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    bigr = toks.select(F.explode(bigrams_of(F.col("_tk"))).alias("bg")).select(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    bc = bigr.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("cb"))
    n_bi = bc.agg(F.sum("cb").alias("n_bi"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bc.filter(F.col("cb") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            F.col("cb").cast("long").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("cb") / F.col("n_bi"))
                    / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", out_col: str = "zlib_ratio"
) -> DataFrame:
    """zlib compression ratio per document (compressed/raw bytes,
    UTF-8) — the classic cheap redundancy proxy web-corpus filters
    use (highly repetitive boilerplate compresses far below ~0.6;
    high-entropy natural text sits near 1 at short lengths). Joins
    `normalize_text` as the second legitimate Python kernel: zlib has
    no JVM builtin, so this is an Arrow-batched pandas_udf (one
    deflate per row inside a vectorized batch — never row-at-a-time
    Python), and the DEFLATE spec is engine-independent, so the
    ratio is deterministic. Scan-shaped: narrow projection, no
    shuffle; rows-only verification (no SQL engine exposes zlib)."""
    import zlib  # noqa: PLC0415

    @F.pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        def one(t: str | None) -> float:
            if not t:
                return 1.0
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, 6)) / len(raw), 4)

        return s.map(one)

    return df.withColumn(out_col, _ratio(F.col(text_col)))


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 64,
    out_col: str = "q_score",
) -> DataFrame:
    """Hashing-trick linear quality classifier (fastText-style bag of
    hashed unigrams): every token hashes into one of `n_buckets`
    feature buckets, each bucket carries a fixed integer weight, and a
    document's margin is the sum of its token weights. The shipped
    weight table is the deterministic stand-in ``w[j] = (j % 13) - 6``
    (swap in trained weights by broadcasting a real array); the score
    is the margin normalized into [0, 1]:

        score = 0.5 + margin / (10 * n_tokens)      (clamped)
        kept  = margin >= 0                         (integer-exact)

    Scale shape: transform+aggregate over the token array — a fully
    NARROW projection (no explode shuffle, no join; the weight lookup
    is an expression, not a table). At 100 TB this is one codegen'd
    scan stage; scoring throughput is bounded by md5 on tokens, the
    same cost profile as the fingerprint/dedup family. The margin is
    an integer sum, so kept/score are bit-identical across engines and
    partitionings (no float accumulation-order sensitivity)."""
    tk = tokens(F.col(text_col))
    wts = F.transform(
        tk,
        lambda x: (
            F.conv(F.substring(F.md5(x), 1, 4), 16, 10).cast("long")
            % n_buckets
        )
        % 13
        - 6,
    )
    margin = F.aggregate(wts, F.lit(0).cast("long"), lambda a, x: a + x)
    n = F.size(tk)
    score = F.when(
        n > 0,
        F.least(
            F.greatest(
                F.lit(0.0), F.lit(0.5) + margin.cast("double") / (10.0 * n)
            ),
            F.lit(1.0),
        ),
    ).otherwise(F.lit(0.5))
    return df.withColumn(out_col + "_margin", margin).withColumn(out_col, score)


def char_pair_counts(
    df: DataFrame, text_col: str = "text", out_pair: str = "pair"
) -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies inside words —
    the merge-candidate statistic at the heart of BPE tokenizer
    training (each BPE iteration merges the most frequent pair; this
    operator is that iteration's count step, distributed). Plan:
    tokens → explode words → per-word pair expansion (narrow
    expression transform) → ONE hash aggregate keyed by pair with
    map-side partials — shuffle volume is the distinct-pair
    vocabulary per partition, not the corpus."""
    words = df.select(F.explode(tokens(F.col(text_col))).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias(out_pair)
    )
    return pairs.groupBy(out_pair).agg(F.count(F.lit(1)).alias("n"))


def positional_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional inverted-index postings (doc, pos, token) — the
    index layout phrase and proximity search need (BM25's postings
    drop positions; these keep them)."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )


def phrase_search(
    df: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search via positional-postings adjacency joins:
    token i of the phrase must appear at (doc, start + i) — the
    classic IR positional-index plan. Returns (doc, n_matches).

    Scale shape: each phrase token selects ONE posting list
    (filter pushes into the index scan when postings are persisted
    partitioned/bucketed by token), and the n−1 adjacency joins are
    equi-joins on (doc, pos) between lists already restricted to the
    phrase's tokens — candidate volume is bounded by the rarest
    token's document frequency, the term-at-a-time bound. No regex
    over the corpus, no full-text rescan."""
    if not phrase:
        raise ValueError("empty phrase")
    posts = positional_postings(df, id_col, text_col)
    acc = posts.filter(F.col("token") == phrase[0]).select(
        "doc", F.col("pos").alias("start")
    )
    for i, tok in enumerate(phrase[1:], start=1):
        nxt = posts.filter(F.col("token") == tok).select(
            "doc", (F.col("pos") - i).alias("start")
        )
        acc = acc.join(nxt, ["doc", "start"])
    return acc.groupBy("doc").agg(F.count(F.lit(1)).alias("n_matches"))
