"""Text analysis over the ``documents`` table: token counting, quality
scoring, language ID, fingerprinting.

Every function is pure Column logic (JVM-side, codegen) — deliberately
expressible in ANSI SQL too.  At 100 TB these run as map-only stages:
no shuffle, full predicate/column pushdown to the parquet scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

# language marker words (tiny n-gram-free heuristic; deterministic and
# SQL-portable — quality matters less than plumbing here)
LANG_MARKERS = {
    "en": ["the", "a", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "die", "das"],
    "fr": ["le", "les", "une"],
}
STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# BPE-ish token pattern: runs of letters, runs of digits, or single
# non-space symbols — a cheap proxy for subword tokenizer counts.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_token_count(text: Column) -> Column:
    """Whitespace token count (empty string counts 1 — matches
    regexp_split semantics in both engines; filter upstream if needed)."""
    return F.size(F.split(F.trim(text), r"\s+")).cast("bigint")


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0))).cast("bigint")


def _word_hits(text: Column, word: str) -> Column:
    # occurrences of a whole word == splits minus one (portable to DuckDB)
    return F.size(F.split(text, rf"\b{word}\b")) - 1


def lang_id(text: Column) -> Column:
    """Marker-word language guess; deterministic tie-break by language
    code order (en < es < de < fr resolution order, first max wins)."""
    scores = {lang: sum_cols([_word_hits(text, w) for w in ws]) for lang, ws in LANG_MARKERS.items()}
    max_score = None
    for lang in LANG_MARKERS:
        max_score = scores[lang] if max_score is None else F.greatest(max_score, scores[lang])
    # CASE chain: first language (in fixed order) achieving the max
    expr = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((scores[lang] == max_score) & (max_score > 0), F.lit(lang)).otherwise(expr)
    return expr


def sum_cols(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def quality_score(text: Column, n_chars: Column) -> Column:
    """Deterministic document quality heuristic in [0,1]-ish:
    normalized blend of mean token length, stopword ratio and length —
    round(4) so the DuckDB oracle hashes identically."""
    toks = ws_token_count(text)
    mean_tok_len = (n_chars.cast("double") / toks)
    stop_hits = sum_cols([_word_hits(text, w) for w in STOPWORDS]).cast("double")
    stop_ratio = stop_hits / toks
    length_factor = F.least(n_chars.cast("double") / F.lit(500.0), F.lit(1.0))
    score = (
        F.lit(0.4) * F.least(mean_tok_len / F.lit(8.0), F.lit(1.0))
        + F.lit(0.3) * F.least(stop_ratio * F.lit(5.0), F.lit(1.0))
        + F.lit(0.3) * length_factor
    )
    return F.round(score, 4)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text (rolling-hash stand-in that is portable to the SQL oracle)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def text_features(docs: DataFrame) -> DataFrame:
    """All text-analysis columns in one map-only pass."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        ws_token_count(t).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        lang_id(t).alias("lang_pred"),
        quality_score(t, F.col("n_chars")).alias("quality"),
        fingerprint(t).alias("fp"),
    )


def lm_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """CCNet-style language-model quality signal (Wenzek et al. 2020 use a
    KenLM perplexity bucket; the self-contained analogue is the corpus's
    own empirical unigram distribution): per document, the average unigram
    log-probability ``avg ln(count(w) / total_words)``.  Low (very
    negative) buckets = rare-token soup (mojibake, code dumps); high
    buckets = stopword-heavy boilerplate — both ends are the filter's
    targets, exactly like CCNet's head/middle/tail split.

    Returns ``(doc_id, n_words, lm_bucket)`` for documents with ≥1 word,
    where ``lm_bucket = floor(100 · avg ln p)`` — floor-scaled integers
    are the portable double→int on both engines (see text_quality).

    Scale design: the vocab count is a map-side-combinable word groupBy;
    the token⋈vocab join shuffles on the word — the hot stopword keys are
    the AQE-skew-join case (in production the top-K vocab is broadcast
    with an OOV floor probability instead, making the scoring pass
    map-only; the exact join keeps the oracle contract here).  The grand
    total is a 1-row aggregate broadcast by ``crossJoin`` — no driver
    collect.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count("*").cast("double").alias("c"))
    total = counts.agg(F.sum("c").alias("tot"))
    return (
        toks.join(counts, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.floor(F.avg(F.log(F.col("c") / F.col("tot"))) * 100)
            .cast("bigint")
            .alias("lm_bucket"),
        )
    )


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    map-only and JVM-side: duplicate-line and duplicate-word counts plus
    the most-frequent-bigram count.  Integer numerators are returned
    (not fractions) so results hash identically across engines; callers
    derive e.g. ``dup_word_frac = n_dup_words / n_words``.  The
    per-bigram frequency scan is O(distinct²) within one row — per-row
    compute with no shuffle, so it parallelizes embarrassingly at any
    scale."""
    t = F.coalesce(F.col("text"), F.lit(""))
    lines = F.filter(F.split(t, "\n"), lambda x: x != F.lit(""))
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != F.lit(""))
    # bigrams: words zipped against their own tail (zip_with pads the
    # shorter side with null; the null pair is filtered out)
    grams = F.filter(
        F.zip_with(
            words,
            F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
            lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b)),
        ),
        lambda x: x.isNotNull(),
    )
    c = lambda e: e.cast("bigint")  # noqa: E731
    return docs.select(
        "doc_id",
        c(F.size(lines)).alias("n_lines"),
        c(F.size(lines) - F.size(F.array_distinct(lines))).alias("n_dup_lines"),
        c(
            F.length(F.concat_ws("", lines))
            - F.length(F.concat_ws("", F.array_distinct(lines)))
        ).alias("n_dup_line_chars"),
        c(F.size(words)).alias("n_words"),
        c(F.size(words) - F.size(F.array_distinct(words))).alias("n_dup_words"),
        c(
            F.coalesce(
                F.array_max(
                    F.transform(
                        F.array_distinct(grams),
                        lambda d: F.size(F.filter(grams, lambda x: x == d)),
                    )
                ),
                F.lit(0),
            )
        ).alias("top_bigram_count"),
    )


def quality_filter(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_dup_word_frac: float = 0.6,
) -> DataFrame:
    """C4/Gopher-style document keep/drop decision (Raffel et al. 2020 §2.2,
    Rae et al. 2021 §A1.1 thresholds adapted): word-count bounds, mean
    word length window, duplicate-word fraction cap.  Map-only Column
    logic; returns ``(doc_id, n_words, mean_word_len_x100, dup_word_pct,
    keep, drop_reasons)`` with integer-scaled metrics (hash-portable) and
    reasons as a comma-joined string (driver-hashable, unlike arrays)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != F.lit(""))
    n_words = F.size(words)
    total_chars = F.length(F.concat_ws("", words))
    # integer-scaled metrics via explicit floor: floats hash differently
    # across engines, and double→int casts truncate in Spark but round in
    # DuckDB — floor is the portable operation
    mean_x100 = F.when(
        n_words > 0, F.floor(total_chars * 100 / n_words)
    ).otherwise(F.lit(0)).cast("bigint")
    dup_pct = F.when(
        n_words > 0,
        F.floor((n_words - F.size(F.array_distinct(words))) * 100 / n_words),
    ).otherwise(F.lit(0)).cast("bigint")
    reasons = F.array_compact(
        F.array(
            F.when(n_words < min_words, F.lit("too_few_words")),
            F.when(n_words > max_words, F.lit("too_many_words")),
            F.when(mean_x100 < int(min_mean_word_len * 100), F.lit("mean_word_too_short")),
            F.when(mean_x100 > int(max_mean_word_len * 100), F.lit("mean_word_too_long")),
            F.when(dup_pct > int(max_dup_word_frac * 100), F.lit("repetitive")),
        )
    )
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        mean_x100.alias("mean_word_len_x100"),
        dup_pct.alias("dup_word_pct"),
        (F.size(reasons) == 0).alias("keep"),
        F.array_join(reasons, ",").alias("drop_reasons"),
    )


# PII patterns shared with the DuckDB oracle: RE2-compatible (no
# backreferences/lookaround), identical semantics under Java regex
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9]{1,3}[-. ][0-9]{2,4}[-. ][0-9]{3,6}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data scrubbing: replace emails / phone numbers / IPv4
    addresses with typed placeholders.  Map-only columnar pass (three
    chained regexp_replace, whole-stage codegen, no UDF); patterns are
    RE2-safe so the DuckDB oracle runs the identical expressions.

    Returns (doc_id, clean_text, n_redactions) — the count is computed
    from length deltas of tagged intermediates, keeping the pass single.
    """
    t = F.col(text_col)
    # order matters: IPv4 before phone — the phone pattern matches inside
    # dotted IPs whose octets are digit-grouped ("10.20.100.5" would become
    # "<PHONE>.5"); replacing IPs first removes those false positives.
    step1 = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    step2 = F.regexp_replace(step1, PII_IPV4, "<IP>")
    step3 = F.regexp_replace(step2, PII_PHONE, "<PHONE>")
    # count matches on each replacement's actual input (not by splitting on
    # placeholder literals — source text containing a literal "<EMAIL>"
    # would over-count)
    n_red = (
        F.regexp_count(t, F.lit(PII_EMAIL))
        + F.regexp_count(step1, F.lit(PII_IPV4))
        + F.regexp_count(step2, F.lit(PII_PHONE))
    )
    return docs.select(
        "doc_id",
        step3.alias("clean_text"),
        n_red.cast("bigint").alias("n_redactions"),
    )


def top_ngrams(docs: DataFrame, n: int = 2, support: float = 0.25,
               text_col: str = "text") -> DataFrame:
    """Corpus-level heavy-hitter n-grams: every n-gram whose DOCUMENT
    frequency reaches ``support`` (fraction of documents), exactly — the
    building block behind boilerplate detection and contamination audits
    (the C4/RefinedWeb "most common lines" passes are the n=line special
    case).

    Returns ``(gram, df)``.  Exact, not a sketch: heavy hitters above a
    support threshold are few BY DEFINITION, so the groupBy output is
    tiny; the per-document ``array_distinct`` bounds each doc's
    contribution to its distinct grams (a doc repeating one gram 10⁶
    times contributes 1), which is also what makes document frequency —
    unlike collection frequency — skew-proof: the partial (map-side)
    aggregation sees at most one increment per (doc, gram).  At 100 TB
    this is one explode + one map-side-combinable count; the threshold
    join is a broadcast of a 1-row aggregate.  Only n=2 needs the
    zip_with pairing; n=1 degenerates to distinct words."""
    if n not in (1, 2):
        raise ValueError("top_ngrams: only unigrams and bigrams in this subset")
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.lower(F.trim(t)), r"\s+"), lambda x: x != F.lit(""))
    if n == 2:
        grams = F.filter(
            F.zip_with(
                words,
                F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
                lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b)),
            ),
            lambda x: x.isNotNull(),
        )
    else:
        grams = words
    per_doc = docs.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
    )
    ndocs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    return (
        per_doc.groupBy("gram")
        .agg(F.count("*").cast("bigint").alias("df"))
        .crossJoin(F.broadcast(ndocs))
        .filter(F.col("df") >= F.ceil(F.lit(support) * F.col("n_docs")))
        .select("gram", "df")
    )


def tfidf_topk(docs: DataFrame, k: int = 5, text_col: str = "text") -> DataFrame:
    """Per-document top-k terms by TF-IDF (classic ``tf · ln(N/df)``) —
    keyword extraction / doc-signature operator.

    Returns ``(doc_id, term, tf, df, score_micro, rank)`` where
    ``score_micro = round(tf·ln(N/df)·10⁶)`` as BIGINT: the ranking AND
    the emitted score use the same integerized value, so verdicts hash
    identically across engines (raw doubles differ in the last ulp
    between JVM Math.log and libm log); ties break on the term string.

    Scale design: tf is a map-side-combinable (doc, term) count; df is a
    count over tf's already-distinct keys (no second distinct); N is a
    1-row broadcast; the tf⋈df join shuffles on the term — stopword-heavy
    keys are AQE-skew territory, and at production scale the df table of
    frequent terms is broadcast instead.  The final top-k is one window
    per doc partition."""
    from pyspark.sql import Window

    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(t)), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("bigint").alias("tf"))
    df_tab = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    ndocs = tf.agg(F.count_distinct("doc_id").cast("double").alias("n_docs"))
    scored = (
        tf.join(df_tab, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score_micro",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1e6
            ).cast("bigint"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score_micro", "rank")
    )


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode + dedup-key normalization — the standard pre-dedup pass
    (CCNet, Wenzek et al. 2020 §4.1 normalize before hashing; C4 strips
    control characters).  Two outputs per document:

    * ``norm_text`` — NFC-normalized text with control characters (except
      ``\\n`` / ``\\t``) removed: the cleaned training text.  NFC runs in
      ONE Arrow-batched pandas UDF (Unicode normalization has no JVM
      builtin; this is the sanctioned vectorized Python edge, same as the
      RDF parsers) — everything after it is JVM Column logic.
    * ``dedup_key`` — md5 of the aggressively normalized form (lowercase,
      accents stripped, digits → ``0``, punctuation dropped, whitespace
      collapsed): the exact-dedup grouping key.  Accent stripping is
      NFD-with-combining-marks-dropped inside the same UDF batch.

    At 100 TB: map-only, no shuffle; the UDF is one Arrow round-trip over
    the text column only (column pruning keeps payload columns out of the
    Python worker).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("norm string, folded string")
    def _nfc(batch: pd.Series) -> pd.DataFrame:
        import unicodedata

        def _do(s: str) -> tuple[str, str]:
            n = unicodedata.normalize("NFC", s or "")
            folded = "".join(
                ch
                for ch in unicodedata.normalize("NFD", n.lower())
                if not unicodedata.combining(ch)
            )
            return n, folded
        pairs = batch.map(_do)
        return pd.DataFrame(
            {"norm": pairs.map(lambda p: p[0]), "folded": pairs.map(lambda p: p[1])}
        )

    u = docs.select("doc_id", _nfc(F.col(text_col)).alias("_u"))
    norm = F.regexp_replace(F.col("_u.norm"), r"[\x00-\x08\x0b-\x1f\x7f]", "")
    # explicit whitespace class (not \s): Java's \s includes \x0b, RE2's
    # does not — the DuckDB twin must see identical keep/collapse sets
    key_src = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("_u.folded"), r"[0-9]", "0"),
                r"[^a-z0-9 \t\n\r]", "",
            ),
            r"[ \t\n\r]+", " ",
        )
    )
    return u.select(
        "doc_id",
        norm.alias("norm_text"),
        F.md5(key_src).alias("dedup_key"),
        (norm != F.col("_u.norm")).alias("had_control_chars"),
    )


def corpus_stats(docs: DataFrame, strata=("lang", "source")) -> DataFrame:
    """Corpus mixture report: per stratum (default ``lang × source``) the
    document / whitespace-token / character counts plus each stratum's
    parts-per-million share of the corpus — the summary every mixing
    recipe starts from (and the input `temperature_mix` reweights).

    Shares are exact integers (``floor(n · 1e6 / total)``) so the result
    hashes identically across engines — no float division anywhere.

    Plan shape: ONE shuffle (the groupBy on the stratum key, map-side
    combine absorbing per-partition rows first); the corpus totals come
    from a second aggregation over the (tiny, #strata-row) grouped result
    itself — never a second pass over the data — cross-joined back as a
    broadcast 1-row dimension.
    """
    strata = list(strata)
    per = docs.groupBy(*strata).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(ws_token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )
    totals = per.agg(
        F.sum("n_docs").alias("_td"), F.sum("n_tokens").alias("_tt")
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            *strata,
            "n_docs",
            "n_tokens",
            "n_chars",
            F.expr("(n_docs * 1000000) div _td").alias("docs_ppm"),
            F.expr("(n_tokens * 1000000) div _tt").alias("tokens_ppm"),
        )
    )
