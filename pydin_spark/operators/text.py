"""Text operators over a ``documents(doc_id, text, ...)`` table.

Engine extension beyond the reference surface (per BASELINE.json north
star): token statistics and quality scores, language ID, tokenization
and chunking, cleaning, term statistics, fingerprints and exact dedup,
and a bigram language model. Most are per-row ``Column`` expressions;
the corpus-wide ones (dedup, term statistics, the LM) shuffle, and the
three that wrap a Python library (normalize_text, bpe_tokenize,
compression_ratio) run as Arrow UDFs.

The substring-dedup operators share one contract (Lee et al.,
"Deduplicating Training Data Makes Language Models Better", done
relationally): :func:`_gram_occurrences` gives each k-gram occurrence
with its gram's corpus-first occurrence and count from one window over
the gram hash; every later occurrence of a repeated gram is redundant
(:func:`_cut_spans`); :func:`_islands` merges a document's windows into
spans; :func:`_cut` rewrites the text without them. The line-dedup pair
shares :func:`_line_occurrences` and :func:`_reassemble_lines`, the LM
pair :func:`_word_bigrams` and :func:`_lidstone_logprob`.

Determinism note: every ratio is ``int/int`` division in double (exact
inputs → IEEE-deterministic output), so results hash-match the DuckDB
oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .stored import CommitLog

#: whitespace-token split used everywhere (texts are single-space joined)
def _tokens(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _check_reserved(df: DataFrame, op: str) -> None:
    """The token-staging operators add internal ``__pd_*`` columns via
    withColumn; a caller column with the same name would be silently
    overwritten and consumed as the token/bigram array — wrong results
    instead of an error (ADVICE r10). One cheap schema check."""
    clash = [c for c in df.columns if c.startswith("__pd_")]
    if clash:
        raise ValueError(
            f"{op}: input columns {clash} collide with reserved "
            f"internal staging names (__pd_*); rename them first")


#: small stopword inventory for quality/language scoring — shared with the
#: SQL oracles, keep in sync with oracle_sql() in __spark_entry__.py
STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

#: marker tokens per language for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "value", "data"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "la", "les", "et", "une"),
    "es": ("el", "la", "los", "y", "una"),
}


def token_stats(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document token counts and length statistics.

    The token array is materialized as a column first (round-10): the
    inlined ``split`` expression re-ran once per use — and the
    ``array_distinct`` use evaluates in interpreted mode (HOF-adjacent
    CodegenFallback), outside codegen's subexpression elimination.
    One split per row now; identical values.
    """
    _check_reserved(df, "token_stats")
    staged = df.withColumn("__pd_toks", _tokens(text_col))
    toks = F.col("__pd_toks")
    return staged.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (F.length(F.regexp_replace(F.col(text_col), " ", ""))
         / F.size(toks)).alias("avg_token_len"),
    )


def token_fertility(df: DataFrame, group_cols: tuple = ("source",),
                    text_col: str = "text") -> DataFrame:
    """Tokenizer-budget diagnostic per group (source/lang/domain):
    corpus-exact character and whitespace-token totals with their
    ratio — "fertility" (chars per token) is the first number a
    tokenizer plan needs per language/source (a BPE trained on
    low-fertility English pays ~2× tokens on high-fertility scripts;
    the per-group table shows WHERE the token budget actually goes).

    Exactness: both totals are BIGINT sums; the ratio is ONE division
    of two exact integers (bit-identical across engines). Empty/NULL
    texts count zero on both totals. Scale shape: one scan, one
    map-side-combined aggregate on the (small) group key. Output:
    (group_cols..., n_docs, n_chars, n_tokens, chars_per_token).
    """
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
    n_tok = F.size(F.filter(toks, lambda t: t != ""))
    agg = (df.groupBy(*[F.col(c) for c in group_cols])
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length(F.coalesce(F.col(text_col),
                                          F.lit(""))))
                .alias("n_chars"),
                F.sum(n_tok).alias("n_tokens")))
    return agg.select(
        *group_cols, "n_docs", "n_chars", "n_tokens",
        F.try_divide(F.col("n_chars").cast("double"),
                     F.col("n_tokens")).alias("chars_per_token"))


def quality_score(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, lexical diversity, stopword mass.

    score = 0.4*min(n_tokens/100,1) + 0.4*diversity + 0.2*stopword_ratio —
    the classic cheap pre-filter shape for LLM training corpora (length +
    diversity + naturalness), all as deterministic column math.
    """
    # token array materialized once (round-10): the inlined split
    # re-ran per use, and the F.filter HOF evaluates interpreted —
    # outside codegen subexpression elimination. Identical values.
    _check_reserved(df, "quality_score")
    staged = df.withColumn("__pd_toks", _tokens(text_col))
    toks = F.col("__pd_toks")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    diversity = n_distinct / n_tokens
    stop_ratio = n_stop / n_tokens
    length_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    return staged.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        diversity.alias("diversity"),
        stop_ratio.alias("stopword_ratio"),
        (F.lit(0.4) * length_score + F.lit(0.4) * diversity
         + F.lit(0.2) * stop_ratio).alias("quality"),
    )


def language_id(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Marker-token language heuristic: argmax of per-language marker hit
    counts; 'und' (undetermined) when no marker hits at all.

    Pure column math (greatest + chained when), so it is also expressible
    as the SQL oracle. For a real corpus swap the marker inventory for
    char-n-gram profiles — the operator shape is identical.
    """
    # round-10 staging: tokenize once into a column (each per-lang
    # F.filter is an interpreted HOF that re-split the text per use),
    # then materialize the per-language score COLUMNS before the
    # argmax/tie-break chain — every score used to be re-evaluated in
    # the output column, in `best`, and once per `when` branch.
    # Identical integer scores and argmax.
    _check_reserved(df, "language_id")
    staged = df.withColumn("__pd_toks", _tokens(text_col))
    toks = F.col("__pd_toks")

    def _marker_filter(arr):
        # single-arg closure: a default-arg lambda would be misread by
        # PySpark's higher-order-function binding as an (element, index)
        # lambda and swap the arguments
        return lambda t: F.array_contains(arr, t)

    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        staged = staged.withColumn(
            f"score_{lang}", F.size(F.filter(toks, _marker_filter(arr))))
    scores = {lang: F.col(f"score_{lang}") for lang in LANG_MARKERS}
    best = F.greatest(*scores.values())
    # deterministic tie-break: first language in fixed order wins
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    out = staged.select(F.col(id_col),
                        *[scores[lang].alias(f"score_{lang}")
                          for lang in LANG_MARKERS],
                        pred.alias("pred_lang"))
    return out


#: character-trigram profiles per language (top trigrams of each
#: language's common function words — public linguistic knowledge,
#: embedded as constants so the operator and its SQL oracle share one
#: inventory). Spaces are part of the trigrams: "he " / "er " capture
#: word-boundary signals the marker-token heuristic misses.
LANG_TRIGRAMS = {
    "en": ("the", "he ", "and", "nd ", "ing", "ng ", "of ", "ion",
           " th", "to ", "ent", "is "),
    "de": ("der", "er ", "ein", "ich", "sch", "und", "die", "ch ",
           "en ", "cht", "das", "ung"),
    "fr": ("les", "es ", "ent", "de ", "ion", "la ", "une", "que",
           " de", "ait", "eur", "est"),
    "es": ("de ", "la ", "os ", "el ", "que", "ent", "ion", "los",
           "una", "ado", " la", "es "),
}


def language_id_ngram(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Char-trigram-profile language ID (ROADMAP upgrade over the
    marker-token heuristic): the document's distinct lowercase character
    trigrams are intersected with each language's embedded profile;
    argmax wins, 'und' when nothing matches.

    Still pure Column math — the trigram explode is a per-row array
    transform (no shuffle, no UDF) and the profile intersection is a
    constant-array ``array_intersect``, so the operator scans linearly
    at any corpus size and the SQL oracle reproduces it exactly.
    """
    lower = F.lower(F.col(text_col))
    n_tris = F.length(lower) - F.lit(2)
    tris = F.when(
        n_tris >= 1,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n_tris),
            lambda i: lower.substr(i, F.lit(3))))
    ).otherwise(F.array().cast("array<string>"))
    scores = {}
    for lang, profile in LANG_TRIGRAMS.items():
        arr = F.array(*[F.lit(t) for t in profile])
        scores[lang] = F.size(F.array_intersect(tris, arr)).cast("long")
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_TRIGRAMS)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return df.select(F.col(id_col),
                     *[scores[lang].alias(f"tri_{lang}")
                       for lang in LANG_TRIGRAMS],
                     pred.alias("pred_lang"))


#: BPE-ish pre-tokenization regex: letter runs, digit runs, single
#: punctuation — the usual pre-merge segmentation shape. Kept to classes
#: that behave identically under Java regex (Spark) and RE2 (DuckDB).
BPE_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def bpe_token_count(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Token counts under a BPE-ish pre-tokenizer vs whitespace split.

    A cheap, deterministic proxy for LLM token accounting at corpus
    scale: regexp extraction is codegen'd JVM-side; a real BPE vocab
    merge would slot in as a Pandas UDF over the same column.
    """
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0))
        .alias("n_bpe_tokens"),
        F.size(F.split(F.col(text_col), " ")).alias("n_ws_tokens"),
    )


def _bigrams(toks: Column) -> Column:
    """Word 2-grams as 'a b' strings (empty array for 1-token docs).
    zip_with over two shifted slices — per-row array math, no explode."""
    n = F.size(toks)
    return F.zip_with(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
                      lambda a, b: F.concat_ws(" ", a, b))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document repetition signals (the Gopher-style dedup
    pre-filters): fraction of duplicate word 2-grams and the mass of the
    single most frequent token.

    Both are per-row array transforms — nested higher-order functions,
    zero shuffle, zero Python — so the operator scans linearly at any
    corpus size.

    Round-10 rewrite of the top-token count: the original
    ``transform(array_distinct(toks), t -> size(filter(toks, x==t)))``
    re-scanned the whole token array once per DISTINCT token —
    O(tokens²) per document in the interpreted HOF evaluator (a 10k-
    token crawl doc is 10⁸ comparisons). The max multiplicity is now a
    single fold over ``array_sort(toks)`` counting the longest run of
    equal neighbours — O(n log n) sort + O(n) fold, identical integer
    result (oracle-gated). The token array is also materialized as a
    column first so the interpreted folds index an attribute instead
    of re-evaluating ``split(text)`` per reference.
    """
    _check_reserved(df, "repetition_stats")
    staged = (df.withColumn("__pd_toks", _tokens(text_col))
              .withColumn("__pd_bg", _bigrams(F.col("__pd_toks"))))
    toks = F.col("__pd_toks")
    n = F.size(toks)
    bg = F.col("__pd_bg")
    n_bg = F.size(bg)
    dup_frac = F.when(
        n_bg > 0,
        (n_bg - F.size(F.array_distinct(bg))) / n_bg).otherwise(F.lit(0.0))
    # longest run of equal neighbours in the sorted array == max
    # token multiplicity. split() never yields an empty array, so the
    # fold always sees >= 1 element and best >= 1 (matching the old
    # array_max over a non-empty distinct set).
    run_state = F.aggregate(
        F.array_sort(toks),
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1)).alias("run"),
            F.greatest(acc["best"],
                       F.when(t == acc["prev"], acc["run"] + 1)
                       .otherwise(F.lit(1))).alias("best")))
    top_count = run_state["best"]
    return staged.select(
        F.col(id_col),
        n.alias("n_tokens"),
        dup_frac.alias("dup_2gram_frac"),
        (top_count / n).alias("top_token_frac"),
    )


#: symbol tokens counted by the Gopher symbol-ratio rule
SYMBOL_TOKENS = ("#", "...", "…")


def gopher_quality_filter(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          min_tokens: int = 30, max_tokens: int = 100000,
                          min_word_len: float = 2.0,
                          max_word_len: float = 10.0,
                          max_symbol_ratio: float = 0.1,
                          min_stop_types: int = 2,
                          max_dup_2gram: float = 0.25) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1
    shape): token-count window, mean-word-length window, symbol-to-word
    ratio, stopword presence, and duplicate-2-gram mass — emitted as per
    -rule columns plus the conjunctive ``keep`` verdict so downstream
    pipelines can re-weight instead of hard-filter.

    Pure Column math end-to-end; the thresholds are plain literals so
    Catalyst folds them and the scan stays one pass with pushdown intact.
    """
    # round-10 staging: tokens and bigrams materialized as columns
    # (split/zip_with used to re-run per referencing expression —
    # the HOF uses evaluate interpreted, outside codegen CSE), and
    # each rule metric computed ONCE as a column before it is reused
    # in both the output and the `keep` conjunction. Values identical.
    _check_reserved(df, "gopher_quality_filter")
    staged = (df.withColumn("__pd_toks", _tokens(text_col))
              .withColumn("__pd_bg", _bigrams(F.col("__pd_toks"))))
    toks = F.col("__pd_toks")
    n = F.size(toks)
    sym_arr = F.array(*[F.lit(s) for s in SYMBOL_TOKENS])
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_bg = F.size(F.col("__pd_bg"))
    staged = (staged
              .withColumn("n_tokens", n)
              .withColumn("mean_word_len",
                          F.length(F.regexp_replace(F.col(text_col),
                                                    " ", "")) / n)
              .withColumn("symbol_ratio",
                          F.size(F.filter(
                              toks,
                              lambda t: F.array_contains(sym_arr, t))) / n)
              .withColumn("n_stop_types",
                          F.size(F.array_intersect(F.array_distinct(toks),
                                                   stop_arr)))
              .withColumn("dup_2gram_frac", F.when(
                  n_bg > 0,
                  (n_bg - F.size(F.array_distinct(F.col("__pd_bg"))))
                  / n_bg).otherwise(F.lit(0.0))))
    keep = ((F.col("n_tokens") >= min_tokens)
            & (F.col("n_tokens") <= max_tokens)
            & (F.col("mean_word_len") >= min_word_len)
            & (F.col("mean_word_len") <= max_word_len)
            & (F.col("symbol_ratio") <= max_symbol_ratio)
            & (F.col("n_stop_types") >= min_stop_types)
            & (F.col("dup_2gram_frac") <= max_dup_2gram))
    return staged.select(
        F.col(id_col),
        "n_tokens",
        "mean_word_len",
        "symbol_ratio",
        "n_stop_types",
        "dup_2gram_frac",
        keep.alias("keep"),
    )


def quality_bundle(df: DataFrame, langs: tuple = ("en",),
                   id_col: str = "doc_id",
                   text_col: str = "text",
                   **gopher_kwargs) -> DataFrame:
    """The RedPajama/Dolma-shaped curation RECIPE as one composed
    verdict: Gopher quality rules ∧ language allowlist ∧ exact-
    duplicate survivorship, with per-rule flags and a ``reasons``
    string (comma-joined failed-rule tags) so pipelines can re-weight
    or audit instead of hard-filtering. This is the operator a user
    actually runs over a fresh crawl; the pieces stay independently
    available (and independently gated).

    Composition chooses only integer/exact signals (token counts,
    int-ratio comparisons, marker argmax, md5-min survivorship) so
    the composed verdict carries a value-exact SQL oracle — entropy
    and LM scores are deliberately NOT in the conjunction (their raw
    doubles are engine-identical only to the last ulp; thresholding
    them could flip a row — score with them separately and weight).

    Scale shape: three scans of the doc table (gopher/language are
    pure column math on the same scan; the fingerprint pass shuffles
    a 32-byte key once) + id-keyed joins. Output: (id, pass_gopher,
    pass_lang, pass_dedup, keep, reasons).
    """
    g = gopher_quality_filter(df, id_col, text_col, **gopher_kwargs) \
        .select(F.col(id_col),
                F.coalesce(F.col("keep"), F.lit(False))
                .alias("pass_gopher"))
    lang = language_id(df, id_col, text_col).select(
        F.col(id_col),
        F.col("pred_lang").isin(list(langs)).alias("pass_lang"))
    fp = fingerprint(df, id_col, text_col)
    surv = (fp.join(fp.groupBy("fingerprint")
                    .agg(F.min(id_col).alias("__keep_id")),
                    "fingerprint")
            .select(F.col(id_col),
                    (F.col(id_col) == F.col("__keep_id"))
                    .alias("pass_dedup")))
    out = (df.select(F.col(id_col))
           .join(g, id_col).join(lang, id_col).join(surv, id_col))
    keep = (F.col("pass_gopher") & F.col("pass_lang")
            & F.col("pass_dedup"))
    reasons = F.concat_ws(",", F.filter(F.array(
        F.when(~F.col("pass_gopher"), F.lit("gopher")),
        F.when(~F.col("pass_lang"), F.lit("lang")),
        F.when(~F.col("pass_dedup"), F.lit("duplicate"))),
        lambda x: x.isNotNull()))
    return out.select(id_col, "pass_gopher", "pass_lang",
                      "pass_dedup", keep.alias("keep"),
                      reasons.alias("reasons"))


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. Used as the exact-dedup key at scale (fixed 32-byte
    shuffle key instead of full document text).
    """
    normalized = F.lower(F.trim(F.regexp_replace(F.col(text_col),
                                                 r"\s+", " ")))
    return df.select(F.col(id_col), F.md5(normalized).alias("fingerprint"))


def tfidf_top_terms(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 5,
                    min_df: int = 1) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF.

    tf(term, doc) = raw count in the doc; idf(term) = ln((N + 1) /
    (df + 1)) + 1 (the smoothed form — never zero, never divides by
    zero); score = tf · idf. Ties break by term ascending so the result
    is total-ordered and reproducible across engines.

    Scale shape: one token explode, a (doc, term) count aggregate, a
    document-frequency aggregate over the distinct (doc, term) set (no
    second scan of the raw corpus), one broadcast-sized join on the term
    dictionary, and a per-document top-k window. All built-ins, no
    Python; the only wide exchanges key on (doc, term) and term — both
    well-distributed in natural text once ``min_df``/stop terms are
    handled by the idf weighting itself.
    """
    n_docs = df.select(id_col).distinct().count()
    toks = df.select(F.col(id_col),
                     F.explode(F.split(F.col(text_col), " "))
                     .alias("term")).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (tf.groupBy("term")
             .agg(F.count(F.lit(1)).alias("df"))
             .where(F.col("df") >= min_df))
    scored = (tf.join(dfreq, "term")
              .withColumn(
                  "tfidf",
                  F.col("tf")
                  * (F.log((F.lit(float(n_docs)) + 1.0)
                           / (F.col("df") + 1.0)) + 1.0)))
    w = (Window.partitionBy(id_col)
         .orderBy(F.col("tfidf").desc(), F.col("term").asc()))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select(id_col, "term", "tf", "df", "tfidf", "rnk"))


def _occurrence(id_col: str) -> Column:
    """A gram occurrence as a (doc, pos) struct — the total order that
    decides which occurrence of a gram is the corpus-first one."""
    return F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))


def _gram_occurrences(df: DataFrame, id_col: str, text_col: str,
                      k: int) -> tuple[DataFrame, DataFrame]:
    """The k-gram inventory of the substring-dedup family: ``(docs,
    occ)``. ``docs`` is (id, text, t) for every input row, ``t`` its
    token array. ``occ`` has one row per ``k``-gram occurrence in a doc
    of at least ``k`` tokens: (id, pos, end, h, first_occ, n_occ) with
    1-based ``pos``, exclusive ``end = pos + k``, the gram's corpus-first
    occurrence ``first_occ`` (:func:`_occurrence` order) and its
    corpus-wide occurrence count ``n_occ``.

    The gram key ``h`` is xxhash64 of the gram — the 8-byte shuffle
    key; grouping by the hash equals grouping by the string up to
    ~2⁻⁶⁴ collisions. Both gram statistics come from ONE window over
    ``h``: it reads the exploded inventory once, where a count/min
    aggregate joined back reads it twice (1.3–1.8× slower on sf0.1
    documents, 4 local cores). In either form every occurrence of a
    hot gram lands in one task.
    """
    k = int(k)
    if k < 1:
        raise ValueError("k must be >= 1")
    docs = df.select(F.col(id_col), F.col(text_col),
                     _tokens(text_col).alias("t"))
    idx = F.sequence(F.lit(1), F.size(F.col("t")) - (k - 1))
    wg = Window.partitionBy("h")
    occ = (docs.where(F.size("t") >= k)
           .select(F.col(id_col), F.explode(F.transform(
               idx,
               lambda i: F.struct(
                   i.cast("long").alias("pos"),
                   F.xxhash64(F.concat_ws(" ", F.slice(F.col("t"), i, k)))
                   .alias("h")))).alias("g"))
           .select(F.col(id_col), F.col("g.pos"),
                   (F.col("g.pos") + k).alias("end"), F.col("g.h"))
           .withColumn("first_occ", F.min(_occurrence(id_col)).over(wg))
           .withColumn("n_occ", F.count(F.lit(1)).over(wg)))
    return docs, occ


def _islands(occ: DataFrame, id_col: str, *aggs: Column) -> DataFrame:
    """Gaps-and-islands merge of each document's ``[pos, end)``
    windows: a running max of ``end`` keyed by doc id starts a new
    island wherever a window begins past every earlier one, and one
    aggregate per island gives (id, span_start, span_end, n_dup_grams,
    *aggs). Skew-bounded by document length."""
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return (occ
            .withColumn("prev_max", F.max("end").over(prev))
            .withColumn("ni",
                        F.when(F.col("prev_max").isNull()
                               | (F.col("pos") > F.col("prev_max")),
                               1).otherwise(0))
            .withColumn("island", F.sum("ni").over(run))
            .groupBy(id_col, "island")
            .agg(F.min("pos").alias("span_start"),
                 F.max("end").alias("span_end"),
                 F.count(F.lit(1)).alias("n_dup_grams"), *aggs)
            .drop("island"))


def _cut_spans(df: DataFrame, id_col: str, text_col: str, k: int,
               min_count: int) -> tuple[DataFrame, DataFrame]:
    """``(docs, spans)``: the spans :func:`remove_duplicate_spans` cuts,
    with their provenance. An occurrence is *redundant* when its gram
    occurs at least ``min_count`` times and an earlier occurrence
    exists corpus-wide; (doc, pos) is a total order, so exactly one
    occurrence per gram survives and the result is deterministic.
    ``spans`` is (id, span_start, span_end, n_dup_grams, src_doc_id,
    src_pos, n_src_docs): src_* is the keeper of the span's first
    k-gram, n_src_docs the number of distinct documents the span's
    grams originate from (a stitched span can splice several
    sources)."""
    docs, occ = _gram_occurrences(df, id_col, text_col, k)
    redundant = occ.where((F.col("n_occ") >= min_count)
                          & (_occurrence(id_col) > F.col("first_occ")))
    return docs, _islands(
        redundant, id_col,
        F.min_by("first_occ.d", "pos").alias("src_doc_id"),
        F.min_by("first_occ.p", "pos").alias("src_pos"),
        F.count_distinct("first_occ.d").alias("n_src_docs"))


def _cut(docs: DataFrame, spans: DataFrame, id_col: str,
         text_col: str) -> DataFrame:
    """Rebuild every document of ``docs`` without the tokens inside
    its ``spans`` → (id, text, n_tokens_cut). Each document row
    carries its own cut-span array, so the rewrite is a JVM-side
    higher-order filter, not a join explosion. A document without a
    span (shorter than k, nothing redundant, or NULL text) keeps its
    text — re-joined from its own tokens, which is the same string —
    and cuts 0 tokens."""
    cuts = (spans.groupBy(id_col)
            .agg(F.collect_list(F.struct(F.col("span_start").alias("s"),
                                         F.col("span_end").alias("e")))
                 .alias("cuts")))
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("t")),
            lambda i: F.when(
                ~F.exists(F.col("cuts"),
                          lambda c: (i >= c["s"]) & (i < c["e"])),
                F.element_at(F.col("t"), i))),
        lambda x: x.isNotNull())
    return (docs.join(cuts, id_col, "left")
            .withColumn("cuts", F.coalesce(
                "cuts", F.array().cast("array<struct<s:long,e:long>>")))
            .select(F.col(id_col),
                    F.array_join(kept, " ").alias(text_col),
                    F.aggregate("cuts", F.lit(0).cast("long"),
                                lambda acc, c: acc + (c["e"] - c["s"]))
                    .alias("n_tokens_cut")))


def duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 20,
                    min_count: int = 2) -> DataFrame:
    """Exact duplicate-substring spans: maximal runs of tokens covered by
    a ``k``-token window that occurs at least ``min_count`` times
    corpus-wide (including within-document repeats) — the
    substring-level exact dedup of Lee et al., "Deduplicating Training
    Data Makes Language Models Better", re-expressed relationally
    (k-gram inventory instead of a suffix array: same detected spans for
    fixed k, and every stage is a Spark built-in).

    Output: (id, span_start, span_end, n_dup_grams) with 1-based token
    indices, ``span_end`` exclusive, overlapping windows merged
    (gaps-and-islands). Downstream, the spans drive cut-or-drop
    decisions just like the suffix-array pipeline's.

    Scale shape: the shared k-gram occurrence window
    (:func:`_gram_occurrences`, keyed by the 8-byte gram hash), then a
    per-document island merge keyed by doc id.
    """
    _, occ = _gram_occurrences(df, id_col, text_col, k)
    return _islands(occ.where(F.col("n_occ") >= min_count), id_col)


def remove_duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 20,
                           min_count: int = 2) -> DataFrame:
    """Cut duplicate substrings out of the corpus, keeping the globally
    first occurrence of each duplicated ``k``-gram (the rewrite stage
    downstream of :func:`duplicate_spans`).

    A window occurrence is *redundant* when the same k-gram has an
    earlier occurrence corpus-wide (ordered by (doc id, position) — a
    total order, so exactly one occurrence per gram survives and the
    result is deterministic). Redundant windows merge into cut spans
    per document; tokens inside a cut span are dropped and the text is
    rebuilt from the survivors. Output: (id, text, n_tokens_cut);
    documents shorter than ``k`` tokens or with NULL text pass through
    with 0 tokens cut.

    Scale shape: the shared k-gram occurrence window, a per-document
    interval merge, and a JVM-side higher-order filter to rebuild the
    text (:func:`_cut`).
    """
    return _cut(*_cut_spans(df, id_col, text_col, k, min_count),
                id_col, text_col)


def _word_bigrams(df: DataFrame, id_col: str,
                  text_col: str) -> tuple[DataFrame, DataFrame]:
    """``(big, base)`` for the bigram LM: ``base`` is (id, t) of every
    document with at least 2 tokens, ``big`` one (id, w1, w2) row per
    adjacent token pair of those documents."""
    base = df.select(F.col(id_col), _tokens(text_col).alias("t")) \
             .where(F.size("t") >= 2)
    idx = F.sequence(F.lit(1), F.size(F.col("t")) - 1)
    big = (base.select(
        F.col(id_col),
        F.explode(F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(F.col("t"), i).alias("w1"),
                F.element_at(F.col("t"), i + 1).alias("w2")))).alias("b"))
        .select(F.col(id_col), F.col("b.w1"), F.col("b.w2")))
    return big, base


def _lidstone_logprob(alpha: float, v: int) -> Column:
    """Lidstone-smoothed bigram log-probability over the count columns
    ``c2`` (bigram) and ``c1`` (history) of a vocabulary of ``v``
    words: ``ln((c2 + α) / (c1 + α·v))``, a missing count read as 0."""
    a = float(alpha)
    return F.log((F.coalesce(F.col("c2"), F.lit(0)) + F.lit(a))
                 / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(a * v)))


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   alpha: float = 0.5,
                   owned_frames: list | None = None,
                   quantized: bool = False) -> DataFrame:
    """Corpus-trained bigram language-model fluency score per document
    — the KenLM-style quality signal expressed relationally (no model
    artifact: the corpus itself is the training set, the "model" is two
    count aggregates).

    score(doc) = mean over its bigrams (w1,w2) of
    ln((c(w1,w2) + α) / (c(w1·) + α·V)) — Lidstone-smoothed conditional
    log-probability, V = corpus vocabulary size, c(w1·) = bigram-history
    count. Low scores mark token salad / boilerplate built from rare
    transitions. Output: (id, n_bigrams, avg_logprob).

    Scale shape: one bigram explode feeding two count aggregates (the
    LM), then two hash joins keyed on the bigram/history and one
    per-doc aggregate — the classic count-join-score pipeline; no
    Python, no model broadcast, every key is natural-text-distributed.

    ``quantized=True`` replaces the float mean with run-deterministic
    integer arithmetic for consumers that feed the score into a
    GLOBAL RANK (curriculum buckets, rank fusion): each bigram's
    log-prob is floored onto the 1e-6 grid FIRST
    (``floor(lp · 1e6)`` BIGINT — a per-row expression over exact
    counts, no accumulation), the per-doc total is an exact BIGINT
    sum (order-independent, unlike ``F.avg`` whose partial-merge
    order varies run to run), and the mean is one integer division —
    negate-divide-negate so truncating (Spark ``div``) and flooring
    (DuckDB ``//``) division agree: every smoothed log-prob is
    strictly negative (``c2 ≤ c1`` and ``αV > α`` force ratio < 1),
    so ``-Σq`` is positive where the two conventions coincide.
    Output: (id, n_bigrams, sum_lp_q BIGINT, nlp_q BIGINT).
    """
    big, base = _word_bigrams(df, id_col, text_col)
    big = big.persist()
    vocab_size = (base.select(F.explode("t").alias("w"))
                  .select("w").distinct().count())
    hist = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    pair = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = big.join(pair, ["w1", "w2"]).join(hist, "w1") \
                .withColumn("lp", _lidstone_logprob(alpha, vocab_size))
    if quantized:
        out = (scored
               .withColumn("q", F.floor(F.col("lp")
                                        * F.lit(1000000.0))
                           .cast("long"))
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_bigrams"),
                    F.sum("q").alias("sum_lp_q"))
               .withColumn("nlp_q",
                           -F.expr("(-sum_lp_q) div n_bigrams")))
    else:
        out = (scored
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_bigrams"),
                    F.avg("lp").alias("avg_logprob")))
    # bounded-cache discipline: the caller either takes ownership of
    # the persisted bigram frame (owned_frames) or gets a materialized
    # result with the cache already released — never a session-lifetime
    # leak per call.
    if owned_frames is not None:
        owned_frames.append(big)
        return out
    out = out.localCheckpoint(eager=True)
    big.unpersist()
    return out


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    MOSS algorithm): from the sequence of ``k``-gram hashes, every
    window of ``w`` consecutive hashes contributes its minimum — the
    guarantee is that any shared run of ``w + k - 1`` tokens between
    two documents yields at least one shared fingerprint, while only
    ~2/(w+1) of positions are kept. The selected (hash, position) set
    is the standard copy-detection index: join fingerprints across
    docs to find shared runs without comparing full texts.

    Hashes use the md5 60-bit prefix (cross-engine reproducible, same
    family as the SimHash oracle variant); window minima are taken
    over the fixed-width hex(hash)·zero-padded(position) string, so
    "min by (hash, position)" is one totally-ordered comparison in any
    engine. Output: (id, fp, pos) distinct — fp the 15-hex-char hash.

    Scale shape: one explode + one count-per-doc window + one sliding
    min window, both keyed by doc id; the fingerprint set is ~2/(w+1)
    of gram positions, constant-factor smaller than the input.
    """
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    if int(w) < 1:
        raise ValueError("w must be >= 1")
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), toks.alias("t")) \
             .where(F.size("t") >= k + w - 1)
    idx = F.sequence(F.lit(1), F.size(F.col("t")) - (k - 1))
    gram = F.concat_ws(" ", F.slice(F.col("t"), F.col("i"), k))
    h = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")
    grams = (base.select(F.col(id_col), F.explode(idx).alias("i"))
             .join(base, id_col)
             .select(F.col(id_col), F.col("i").alias("pos"),
                     F.concat(F.lpad(F.conv(F.substring(
                         F.md5(gram), 1, 15), 16, 16), 15, "0"),
                         F.lpad(F.col("i").cast("string"), 8, "0"))
                     .alias("key")))
    wd = Window.partitionBy(id_col)
    ws = (Window.partitionBy(id_col).orderBy("pos")
          .rowsBetween(Window.currentRow, w - 1))
    sel = (grams
           .withColumn("n", F.count(F.lit(1)).over(wd))
           .withColumn("mn", F.min("key").over(ws))
           .where(F.col("pos") <= F.col("n") - (w - 1)))
    return (sel.select(F.col(id_col),
                       F.substring("mn", 1, 15).alias("fp"),
                       F.substring("mn", 16, 8).cast("long").alias("pos"))
            .distinct())


def winnow_matches(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 5, w: int = 4,
                   min_shared: int = 2,
                   other: DataFrame | None = None,
                   owned_frames: list | None = None) -> DataFrame:
    """Copy-detection reports from the winnowing index: document pairs
    sharing at least ``min_shared`` fingerprints, with the match count
    and the position extent of the overlap on each side — the MOSS-style
    output, produced by one join on the fingerprint hash (the index is
    ~2/(w+1) of positions, so the join is a fraction of an all-grams
    join, and no document text is ever compared).

    With ``other`` given, matches run *across two corpora* (``df``
    pairs only against ``other``) — contamination tracing that says
    WHERE a training document overlaps the reference/eval corpus, where
    :func:`~pydin_spark.operators.curation.decontaminate` only says
    whether. Both corpora are fingerprinted once; ids must be disjoint
    for unambiguous reports.

    Output: (id_a, id_b, n_shared, a_min_pos, a_max_pos, b_min_pos,
    b_max_pos); id_a < id_b in the single-corpus case, id_a from
    ``df`` / id_b from ``other`` in the two-corpus case.
    ``owned_frames`` (a list) collects the persisted fingerprint frame
    so a long-lived caller can unpersist it once the result is
    materialized (ADVICE r10).
    """
    fp = winnow_fingerprints(df, id_col, text_col, k, w)
    if other is None:
        # single-corpus: the fingerprint frame (k-gram explode + two
        # windows + distinct) feeds BOTH join sides — persist so its
        # subtree runs once, not once per alias (round-10). In the
        # two-corpus case each side is consumed exactly once.
        fp = fp.persist()
        if owned_frames is not None:
            owned_frames.append(fp)
        fp_b = fp
    else:
        fp_b = winnow_fingerprints(other, id_col, text_col, k, w)
    a = fp.select(F.col(id_col).alias("id_a"), F.col("fp"),
                  F.col("pos").alias("pos_a"))
    b = fp_b.select(F.col(id_col).alias("id_b"), F.col("fp"),
                    F.col("pos").alias("pos_b"))
    if other is None:
        # shuffled-hash hint on the single-corpus self-join (round-11,
        # guide §3.1): the join feeds a hash aggregate on the pair key,
        # so SMJ's sorts buy nothing downstream; measured r10 A/B
        # 1.94 -> 1.72 s at sf0.1 under AQE's runtime SMJ->SHJ rewrite,
        # applied statically to just this join here. The two-corpus
        # path is left to the planner (sides can be very differently
        # sized; broadcast often applies).
        b = b.hint("shuffle_hash")
    joined = a.join(b, "fp")
    if other is None:
        joined = joined.where(F.col("id_a") < F.col("id_b"))
    return (joined
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"),
                 F.min("pos_a").alias("a_min_pos"),
                 F.max("pos_a").alias("a_max_pos"),
                 F.min("pos_b").alias("b_min_pos"),
                 F.max("pos_b").alias("b_max_pos"))
            .where(F.col("n_shared") >= min_shared))


def span_provenance(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 20,
                    min_count: int = 2) -> DataFrame:
    """Provenance for duplicate-span cuts: for every span that
    :func:`remove_duplicate_spans` would cut (all occurrences after the
    corpus-first one, by the same (doc, pos) total order), report WHERE
    the kept original lives — the audit trail that turns "this text was
    cut" into "this text in doc X first appeared in doc Y at token P"
    (contamination tracing at substring grain, complementing
    :func:`winnow_matches`' document grain).

    Output per cut span: (id, span_start, span_end, n_dup_grams,
    src_doc_id, src_pos, n_src_docs) — src_* is the keeper of the
    span's first k-gram, n_src_docs counts distinct documents the
    span's grams originate from (a stitched span can splice several
    sources).

    Scale shape: the same occurrence window and island merge as
    :func:`remove_duplicate_spans` — no new shuffle class.
    """
    return _cut_spans(df, id_col, text_col, k, min_count)[1]


def chunk_text(df: DataFrame, chunk_tokens: int = 128,
               overlap: int = 0, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Sliding-window token chunking: split each document into
    fixed-size training chunks of ``chunk_tokens`` tokens with
    ``overlap`` tokens of context carried between consecutive chunks —
    the standard context-window preparation step before sequence
    packing (complementary to :func:`~pydin_spark.operators.curation.
    pack_sequences`, which concatenates SHORT docs; this splits LONG
    ones).

    Chunk starts are 0, step, 2·step … (step = chunk_tokens − overlap)
    until the window covers the document; the last chunk may be short
    (cut at the doc boundary, standard semantics). A doc with
    ≤ chunk_tokens tokens yields exactly one chunk of itself.

    Pure projection + explode — no shuffle, no state; scales linearly
    with scan volume and parallelizes per input split. Rows with NULL
    text yield no chunks (matching the SQL-oracle semantics — there is
    nothing to chunk). Output: (id, chunk_id, n_tokens, chunk).
    """
    if int(chunk_tokens) < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if not 0 <= int(overlap) < int(chunk_tokens):
        # a negative overlap would silently SKIP tokens between
        # consecutive chunks — never a chunking a user wants
        raise ValueError("overlap must satisfy 0 <= overlap "
                         "< chunk_tokens")
    step = int(chunk_tokens) - int(overlap)
    df = df.where(F.col(text_col).isNotNull())
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.when(
        n <= chunk_tokens, F.lit(1)
    ).otherwise(F.floor((n - chunk_tokens + step - 1) / step) + 1)
    chunk_id = F.explode(F.sequence(F.lit(0), n_chunks - 1)) \
        .alias("chunk_id")
    out = df.select(F.col(id_col), F.col(text_col), chunk_id)
    sliced = F.slice(F.split(F.col(text_col), " "),
                     F.col("chunk_id") * step + 1, chunk_tokens)
    return out.select(
        F.col(id_col), F.col("chunk_id"),
        F.size(sliced).alias("n_tokens"),
        F.array_join(sliced, " ").alias("chunk"))


def rewrite_with_provenance(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", k: int = 20,
                            min_count: int = 2,
                            owned_frames: list | None = None):
    """Single-pass combination of :func:`remove_duplicate_spans` and
    :func:`span_provenance`: returns ``(rewritten, provenance)`` as two
    DataFrames computed from ONE k-gram inventory and ONE island merge.

    Pipelines that want both the cut corpus and the audit trail would
    otherwise run the k-gram explode, the corpus-wide first-occurrence
    window, and the per-document interval merge twice — this shares
    all three (the merged-span frame is persisted and serves both
    outputs), halving the heavy stages. Results are identical to the
    two separate operators by construction (both are the same
    :func:`_cut_spans` frame); ``tests/`` pins the equivalence.

    ``owned_frames`` collects the persisted merged-span frame for
    release once both outputs are materialized.
    """
    docs, spans = _cut_spans(df, id_col, text_col, k, min_count)
    spans = spans.persist()
    if owned_frames is not None:
        owned_frames.append(spans)
    return _cut(docs, spans, id_col, text_col), spans


def _bpe_apply_merge(symbols, left: str, right: str):
    """Column: one BPE merge (left,right)→left+right applied to a
    symbol array with standard left-to-right non-overlapping
    semantics, as a JVM-side fold (no Python in the loop). State:
    (out, carry) — carry holds the previous unmatched symbol."""
    merged = left + right
    state = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("\x00").alias("carry"))  # \x00 = empty carry sentinel
    step = lambda st, x: F.when(
        (st["carry"] == F.lit(left)) & (x == F.lit(right)),
        F.struct(F.concat(st["out"], F.array(F.lit(merged))).alias("out"),
                 F.lit("\x00").alias("carry"))
    ).otherwise(F.struct(
        F.when(st["carry"] == F.lit("\x00"), st["out"])
        .otherwise(F.concat(st["out"], F.array(st["carry"]))).alias("out"),
        x.alias("carry")))
    finish = lambda st: F.when(
        st["carry"] == F.lit("\x00"), st["out"]
    ).otherwise(F.concat(st["out"], F.array(st["carry"])))
    return F.aggregate(symbols, state, step, finish)


def learn_bpe_merges(df: DataFrame, k: int = 50,
                     text_col: str = "text",
                     end_of_word: str = "</w>",
                     min_pair_freq: int = 2) -> list[tuple[str, str]]:
    """Learn ``k`` BPE merges from a corpus (Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units") —
    the tokenizer-training first pass, distributed.

    The decisive structural move: BPE statistics depend only on the
    DISTINCT-WORD frequency table, so the corpus is aggregated ONCE
    (explode + count — the only corpus-sized stage) and the iterative
    part runs over the word table, whose size is the vocabulary, not
    the corpus. Each round counts adjacent symbol pairs weighted by
    word frequency (one small shuffle), takes the most frequent pair
    (deterministic tie-break: freq DESC, then pair lexicographic —
    ONE collected row per round), and applies the merge with a
    JVM-side fold. Lineage is truncated each round (localCheckpoint)
    so round N's plan doesn't replay rounds 1..N-1.

    Returns the ordered merge list [(left, right), ...] — driver-sized
    by definition (k entries); stop early when no pair reaches
    ``min_pair_freq``. Words get ``end_of_word`` as a terminal symbol
    (the standard end marker, so "low" the word and "low" the prefix
    of "lower" learn different merges).
    """
    words = (df.select(F.explode(F.split(F.col(text_col), " "))
                       .alias("word"))
             .where(F.col("word") != "")
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    sym = (words.select(
        "freq",
        F.concat(F.split(F.col("word"), ""),
                 F.array(F.lit(end_of_word))).alias("symbols"))
        .localCheckpoint(eager=True))
    merges: list[tuple[str, str]] = []
    for _ in range(int(k)):
        pairs = (sym.select(
            "freq",
            F.explode(F.zip_with(
                F.slice(F.col("symbols"), 1,
                        F.size("symbols") - 1),
                F.slice(F.col("symbols"), 2,
                        F.size("symbols") - 1),
                lambda a, b: F.struct(a.alias("l"), b.alias("r"))))
            .alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n")))
        top = (pairs.orderBy(F.desc("n"), "l", "r").limit(1).collect())
        if not top or top[0]["n"] < min_pair_freq:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((left, right))
        nxt = sym.select(
            "freq", _bpe_apply_merge(F.col("symbols"), left, right)
            .alias("symbols")).localCheckpoint(eager=True)
        sym.unpersist()
        sym = nxt
    sym.unpersist()
    return merges


def bpe_tokenize(df: DataFrame, merges: list[tuple[str, str]],
                 id_col: str = "doc_id", text_col: str = "text",
                 end_of_word: str = "</w>") -> DataFrame:
    """Apply an ordered merge list from :func:`learn_bpe_merges` to a
    corpus: (id, tokens array<string>, n_tokens). The encode loop
    (every merge over every word) runs as an Arrow-batched pandas
    stage — the documented UDF path for logic Spark's expression
    language can't unroll M-merges deep; the learning side stays
    JVM-side where the corpus-sized work happens.
    """
    merge_list = [tuple(m) for m in merges]

    def encode(batches):
        for pdf in batches:
            out_rows = []
            for _, row in pdf.iterrows():
                toks: list[str] = []
                text = row[text_col]
                for word in (text.split(" ") if text else []):
                    if not word:
                        continue
                    symbols = list(word) + [end_of_word]
                    for left, right in merge_list:
                        i, out = 0, []
                        while i < len(symbols):
                            if (i + 1 < len(symbols)
                                    and symbols[i] == left
                                    and symbols[i + 1] == right):
                                out.append(left + right)
                                i += 2
                            else:
                                out.append(symbols[i])
                                i += 1
                        symbols = out
                    toks.extend(symbols)
                out_rows.append((row[id_col], toks, len(toks)))
            import pandas as pd
            yield pd.DataFrame(out_rows,
                               columns=[id_col, "tokens", "n_tokens"])

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        encode,
        schema=f"{id_col} {id_type}, tokens array<string>, "
               "n_tokens int")


def _line_occurrences(df: DataFrame, id_col: str, text_col: str,
                      sep: str, min_tokens: int
                      ) -> tuple[DataFrame, DataFrame]:
    """``(lines, firsts)`` of the line-dedup family. ``lines`` is one
    (id, pos, line, __elig) row per ``sep``-split line; a line is
    eligible when it is non-empty and has at least ``min_tokens``
    tokens. ``firsts`` is (line, __first): each eligible line's
    corpus-first (id, pos), as an aggregate — see :func:`line_dedup`
    for why not a window."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"))
    elig = (F.length(F.col("line")) > 0) \
        & (F.size(_tokens("line")) >= F.lit(int(min_tokens)))
    lines = lines.withColumn("__elig", elig)
    firsts = (lines.where("__elig")
              .groupBy("line")
              .agg(F.min(F.struct(id_col, "pos")).alias("__first")))
    return lines, firsts


def _reassemble_lines(lines: DataFrame, firsts: DataFrame, id_col: str,
                      text_col: str, join_sep: str) -> DataFrame:
    """Keep every exempt line and every line that is its own keeper in
    ``firsts`` (a line missing from ``firsts`` is cut), then rebuild
    each document from its kept lines in order → (id, text, n_lines,
    n_kept)."""
    keep = (~F.col("__elig")) | (
        F.col("__first").isNotNull()
        & (F.col(f"__first.{id_col}") == F.col(id_col))
        & (F.col("__first.pos") == F.col("pos")))
    out = (lines.join(firsts, "line", "left")
           .withColumn("__keep", keep)
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_lines"),
                F.sum((F.col("__elig") & F.col("__keep"))
                      .cast("long")).alias("n_kept"),
                F.array_sort(F.collect_list(
                    F.when(F.col("__keep"),
                           F.struct("pos", "line")))).alias("__ls")))
    return out.select(
        F.col(id_col),
        F.array_join(F.transform(F.col("__ls"), lambda s: s["line"]),
                     join_sep).alias(text_col),
        "n_lines", "n_kept")


def line_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", sep: str = "\n",
               min_tokens: int = 1,
               join_sep: str | None = None) -> DataFrame:
    """Corpus-wide exact LINE deduplication (C4/RefinedWeb-style): a
    line that occurs in several documents survives only at its
    corpus-first occurrence — smallest (id, position) — and is cut
    everywhere else; boilerplate (nav bars, cookie banners, license
    headers) disappears without touching unique prose. Output:
    (id, text, n_lines, n_kept) with the text reassembled from the
    kept lines in original order (docs whose every line was cut keep
    an empty text — drop downstream if desired).

    ``sep`` is a regex (default newline). Lines that are empty or
    shorter than ``min_tokens`` whitespace tokens are EXEMPT — always
    kept in the rebuilt text, never counted as duplicates (cutting
    every blank line or stray "the" corpus-wide would shred documents;
    the C4 rule only targets content-bearing repeated lines).
    ``n_kept`` counts only ELIGIBLE lines that survived dedup —
    exempt lines were never candidates, so they don't inflate the
    keep count (``n_lines`` still counts every split piece, so
    ``n_lines - n_kept`` is NOT the number cut; compare against an
    eligible-line count if you need a cut rate).

    Scale shape — deliberately NOT a window over the line text: hot
    boilerplate lines occur millions of times, and
    ``row_number() OVER (PARTITION BY line)`` would sort each hot
    line's occurrence list in one task. Instead the corpus-first
    occurrence is ``min(struct(id, pos))`` per line — an aggregate
    with map-side partial combine, so the hot line reduces to one row
    per map task before the (tiny, distinct-line-sized) shuffle —
    then one equi-join of that firsts table back onto the exploded
    lines (AQE skew-join splits any remaining hot key), and one
    reassembly aggregate on the doc key. Three shuffles total, none of
    them a per-key sort.

    ``sep`` is a split REGEX; ``join_sep`` is the literal string used
    to reassemble (defaults to ``sep``, correct whenever ``sep`` has
    no regex metacharacters — pass it explicitly otherwise).
    """
    lines, firsts = _line_occurrences(df, id_col, text_col, sep,
                                      min_tokens)
    return _reassemble_lines(lines, firsts, id_col, text_col,
                             join_sep if join_sep is not None else sep)


class IncrementalLineDeduper:
    """:func:`line_dedup` for a GROWING corpus: the corpus-first line
    table persists as parquet state, so each new batch dedups against
    all history without rescanning it — the C4/RefinedWeb pipeline run
    as an incremental ingest (same philosophy as
    :class:`~pydin_spark.operators.dedup.IncrementalDeduper`, same
    commit-log atomicity).

    Semantics are ARRIVAL-order-first: a line's keeper is its first
    occurrence across ingest calls (and the smallest (id, pos) within
    a batch). When batches arrive in id order this is exactly the
    one-shot :func:`line_dedup` over the concatenated corpus —
    pinned by test and oracle; out-of-order arrivals keep the earlier
    ARRIVAL, which is what an append-only pipeline means by "first".

    State under ``path``: ``firsts/`` — one row per distinct
    content-bearing line (the line STRING, so dedup decisions are
    exact equality like the one-shot operator, plus the keeper's
    (id, pos) for provenance), each row carrying a ``batch`` commit
    id; ``commits/`` — one row per committed batch. The commit row is
    written last, and readers semi-join committed batches, so the
    append is atomic under crashes (orphans invisible). Per-batch cost
    is one batch explode + one equi-join against the
    distinct-line-sized state (never the raw history) + one
    state append of only the NEW lines.
    """

    def __init__(self, path: str, id_col: str = "doc_id",
                 text_col: str = "text", sep: str = "\n",
                 min_tokens: int = 1, join_sep: str | None = None):
        self.path = str(path).rstrip("/")
        self.id_col, self.text_col = id_col, text_col
        self.sep, self.min_tokens = sep, min_tokens
        self.join_sep = join_sep if join_sep is not None else sep
        self._log = CommitLog(self.path, ("firsts",))

    def seen_lines(self, spark) -> DataFrame:
        """Committed state: (line, id, pos) of every keeper so far."""
        if not self._log.has_state(spark):
            return spark.createDataFrame(
                [], f"line string, {self.id_col} string, pos int")
        return self._log.read(spark, "firsts")

    def ingest(self, docs: DataFrame,
               rewritten_path: str | None = None) -> DataFrame:
        """Dedup the batch against history AND within itself, append
        the batch's new keeper lines to the state, return the
        rewritten batch: (id, text, n_lines, n_kept).

        With ``rewritten_path`` the rewritten docs append to that sink
        BEFORE the state commit: a crash between the two replays the
        batch against pre-batch state and re-derives the same rewrite
        (at-least-once to the sink — dedup downstream by id —
        exactly-once to the state)."""
        spark = docs.sparkSession
        id_col = self.id_col
        lines, firsts = _line_occurrences(docs, id_col, self.text_col,
                                          self.sep, self.min_tokens)
        seen = self.seen_lines(spark).select("line").distinct()
        new_firsts = firsts.join(seen, "line", "left_anti") \
            .localCheckpoint(eager=True)
        result = _reassemble_lines(lines, new_firsts, id_col,
                                   self.text_col, self.join_sep) \
            .localCheckpoint(eager=True)
        # sink write and state append AFTER the result is materialized
        # and the sink BEFORE the commit row: a crash anywhere up to
        # the commit replays the batch against the old state and
        # reproduces the same output (at-least-once, never silent loss)
        if rewritten_path is not None:
            result.write.mode("append").parquet(rewritten_path)
        self._log.commit(spark, {"firsts": new_firsts.select(
            "line",
            F.col(f"__first.{id_col}").cast("string").alias(id_col),
            F.col("__first.pos").alias("pos"))})
        return result

    def ingest_stream(self, stream_df: DataFrame, checkpoint: str,
                      rewritten_path: str | None = None,
                      trigger_once: bool = True,
                      compact_every: int | None = 20):
        """Streaming front door: every micro-batch is line-deduped
        against history + itself, the rewritten docs optionally append
        to ``rewritten_path``, and the batch's new keeper lines commit
        to the state. Same replay contract as the near-dup deduper's
        stream: the output is written before the state commit, so a
        crash replays the batch against pre-batch state and re-derives
        the same rewrite — at-least-once to the sink, exactly-once to
        the state. ``compact_every`` bounds the commit log. Returns
        the started StreamingQuery."""
        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.ingest(batch_df, rewritten_path=rewritten_path)
            if compact_every and batch_id > 0 \
                    and batch_id % compact_every == 0:
                self.checkpoint_state()

        writer = (stream_df.writeStream
                  .foreachBatch(_sink)
                  .outputMode("update")
                  .option("checkpointLocation", checkpoint))
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def maintain(self, spark, max_files: int = 64,
                 checkpoint_above: int = 1000) -> dict:
        """Shared stored-state upkeep (same contract as
        ``IncrementalDeduper.maintain``): collapse the commit log via
        :meth:`checkpoint_state` once it exceeds ``checkpoint_above``
        batches (it is broadcast on every read), then compact the
        ``firsts`` table past ``max_files`` fragments, sweeping
        uncommitted orphan rows from crashed appends in the same
        rewrite (rows whose ``batch`` has no commit row are invisible
        to readers already — the sweep just reclaims their bytes)."""
        return self._log.maintain(spark, self._merged, checkpoint_above,
                                  max_files=max_files)

    def _merged(self, spark) -> dict:
        return {"firsts":
                self.seen_lines(spark).localCheckpoint(eager=True)}

    def checkpoint_state(self) -> None:
        """Collapse N committed batches into one (the commit log is
        read per ingest and must stay bounded), with the deduper's
        append-then-swap crash safety
        (:meth:`~pydin_spark.operators.stored.CommitLog.commit`)."""
        from pyspark.sql import SparkSession
        self._log.collapse(SparkSession.getActiveSession(), self._merged)


def normalize_text(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", form: str = "NFC",
                   casefold: bool = False,
                   strip_accents: bool = False,
                   collapse_whitespace: bool = False) -> DataFrame:
    """Unicode text normalization — the cleaning step every real-world
    (non-ASCII) corpus needs before ANY hash-based operator: "café"
    composed (U+00E9) and decomposed (e + U+0301) are different byte
    strings, so fingerprints, shingles, and bloom probes all miss each
    other until the corpus is normalized to one form. Options: Unicode
    normal form (NFC/NFKC/NFD/NFKD via the standard algorithm),
    ``casefold`` (full Unicode case folding, stronger than lower()),
    ``strip_accents`` (NFD + drop combining marks), and
    ``collapse_whitespace`` (runs of ASCII whitespace → one space,
    trimmed; non-ASCII whitespace like NBSP is content, not
    separator — the same rule SQL ``regexp_replace(.., '\\s+')``
    engines apply, so oracle twins agree on unicode text).

    Runs as an Arrow-batched pandas UDF — normalization tables aren't
    in Spark's built-in functions, and a vectorized str pass over
    Arrow batches is the honest cost (one linear scan, no shuffle, no
    per-row Python). Output replaces ``text_col``; all other columns
    pass through untouched.

    Determinism: Unicode normal forms are defined by the standard, so
    any conforming engine produces identical bytes — the DuckDB oracle
    recomputes NFC with ``nfc_normalize()`` and matches exactly.
    """
    import re
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normal form {form!r}")

    _ASCII_WS = re.compile(r"[ \t\n\r\f\v]+")

    @pandas_udf("string")
    def _norm(s):
        import pandas as pd

        def one(t):
            if t is None:
                return None
            out = unicodedata.normalize(form, t)
            if strip_accents:
                out = "".join(
                    ch for ch in unicodedata.normalize("NFD", out)
                    if unicodedata.category(ch) != "Mn")
                out = unicodedata.normalize(form, out)
            if casefold:
                out = out.casefold()
            if collapse_whitespace:
                # ASCII whitespace only — str.split() would also
                # collapse NBSP/U+2028 etc., which SQL engines'
                # \s+ (RE2, ASCII) does not; keep both engines on
                # the ASCII rule so oracles agree on unicode text
                out = _ASCII_WS.sub(" ", out).strip(" ")
            return out

        return pd.Series([one(t) for t in s])

    others = [c for c in df.columns if c != text_col]
    return df.select(*others, _norm(F.col(text_col)).alias(text_col)) \
        .select(*df.columns)


def c4_line_filter(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", sep: str = "\n",
                   join_sep: str | None = None,
                   min_words_per_line: int = 5,
                   min_lines: int = 3,
                   terminal_punct: tuple[str, ...] = (".", "!", "?",
                                                      '"', "'"),
                   line_badwords: tuple[str, ...] = ("javascript",),
                   doc_badphrases: tuple[str, ...] = ("lorem ipsum",
                                                      "{")) -> DataFrame:
    """C4-style heuristic page cleaning (Raffel et al. 2020, the
    public C4 rule set): per LINE, keep only lines that (a) have at
    least ``min_words_per_line`` whitespace words, (b) end in a
    terminal punctuation character, and (c) don't mention a badword
    (``javascript`` in C4 — boilerplate tell); per DOCUMENT, drop any
    page containing a ``doc_badphrases`` phrase (``lorem ipsum``,
    ``{`` — template/code tells) and any page with fewer than
    ``min_lines`` surviving lines. No reference counterpart (pydin has
    no corpus-cleaning surface); engine extension for web-scale
    training corpora, complementary to :func:`line_dedup` (which cuts
    REPEATED lines; this cuts LOW-QUALITY lines by local rules only).

    Output: (id, text, n_lines, n_kept) with the text rebuilt from
    kept lines in original order — same contract as
    :func:`line_dedup`; documents that fail a doc-level rule are
    dropped entirely. Every line is space-trimmed before rule
    evaluation and in the rebuilt text (the public C4 behavior —
    markup stripping upstream leaves trailing spaces that would
    otherwise fail the punctuation test on every mid-document line).
    The terminal-punctuation test is a single trailing CHARACTER test
    (pass multi-char closers like ``.")`` as extra tuple entries only
    if single chars — multi-char suffixes are not supported);
    badword/phrase matching is case-insensitive substring.

    Scale shape: pure projection — posexplode + per-line column
    predicates + one reassembly aggregate on the doc key. ONE shuffle
    (the regroup); every rule is a JVM column op evaluated line-local,
    no corpus-wide state, so cost is the scan. ``sep`` is a split
    REGEX, ``join_sep`` the literal reassembly string (defaults to
    ``sep``; pass explicitly when ``sep`` has metacharacters).
    """
    for p in terminal_punct:
        if len(p) != 1:
            raise ValueError("terminal_punct entries must be single "
                             f"characters, got {p!r}")
    low_text = F.lower(F.col(text_col))
    doc_ok = ~_any_contains(low_text, doc_badphrases)
    docs = df.where(doc_ok)
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"))
    # each line is space-trimmed BEFORE rule evaluation and in the
    # rebuilt text — the public C4 behavior; without it, upstream
    # markup stripping leaves trailing spaces that silently fail the
    # terminal-punctuation test on every mid-document line
    lines = lines.withColumn("line", F.trim(F.col("line")))
    low_line = F.lower(F.col("line"))
    # word count splits on RUNS of spaces — strip_markup with
    # collapse_whitespace=False leaves doubled spaces where tags were,
    # and a single-space split would count the empty tokens as words
    keep = ((F.size(F.split(F.col("line"), " +"))
             >= F.lit(int(min_words_per_line)))
            & F.substring(F.col("line"), -1, 1).isin(*terminal_punct)
            & ~_any_contains(low_line, line_badwords))
    marked = lines.withColumn("__keep", keep)
    out = (marked.groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("__keep").cast("long")).alias("n_kept"),
                F.array_sort(F.collect_list(
                    F.when(F.col("__keep"),
                           F.struct("pos", "line")))).alias("__ls")))
    text_out = F.array_join(
        F.transform(F.col("__ls"), lambda s: s["line"]),
        join_sep if join_sep is not None else sep)
    return (out.where(F.col("n_kept") >= F.lit(int(min_lines)))
            .select(F.col(id_col), text_out.alias(text_col),
                    "n_lines", "n_kept"))


def _any_contains(low_col: Column, phrases: tuple[str, ...]) -> Column:
    """OR-fold of case-insensitive substring tests (phrases are
    matched against an already-lowercased column)."""
    cond = F.lit(False)
    for p in phrases:
        cond = cond | low_col.contains(p.lower())
    return cond


#: tag-strip regexes shared with the SQL oracle (RE2-compatible: no
#: backreferences, lazy quantifiers + inline (?is) flags only)
MARKUP_PATTERNS = (
    r"(?is)<script[^>]*>.*?</script>",   # script blocks incl. content
    r"(?is)<style[^>]*>.*?</style>",     # style blocks incl. content
    r"(?s)<!--.*?-->",                   # comments
    r"(?s)<[^>]+>",                      # any remaining tag
)

#: entity unescapes applied IN ORDER (&amp; last, standard decode order
#: — decoding it first would double-decode &amp;lt;)
MARKUP_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&apos;", "'"), ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def strip_markup(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 collapse_whitespace: bool = True) -> DataFrame:
    """HTML/XML markup removal: script/style blocks (including their
    content), comments, and all remaining tags become spaces; the six
    standard entities are decoded (``&amp;`` last, so ``&amp;lt;``
    correctly yields the literal ``&lt;``); whitespace is optionally
    collapsed to single spaces (ASCII rule, same as
    :func:`normalize_text`). The crude-but-robust extraction tier of a
    web pipeline — a real boilerplate extractor (trafilatura-class) is
    a Python library call and belongs behind ``mapInPandas`` like the
    multimodal codecs; THIS operator is the zero-Python scale path
    that handles the bulk.

    All patterns are RE2-compatible (no backreferences) so the DuckDB
    oracle runs the IDENTICAL regex inventory (``MARKUP_PATTERNS`` /
    ``MARKUP_ENTITIES`` are module constants shared with the oracle by
    construction). Pure column ops: no shuffle, no Python, cost is the
    scan; other columns pass through unchanged.
    """
    out = F.col(text_col)
    for pat in MARKUP_PATTERNS:
        out = F.regexp_replace(out, pat, " ")
    for ent, rep in MARKUP_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    if collapse_whitespace:
        out = F.trim(F.regexp_replace(out, r"[ \t\n\r\f]+", " "))
    others = [c for c in df.columns if c != text_col]
    return df.select(*others, out.alias(text_col)).select(*df.columns)


def top_ngrams(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", n: int = 3,
               k: int = 20) -> DataFrame:
    """Corpus-level boilerplate mining: the ``k`` word ``n``-grams
    appearing in the most DOCUMENTS (document frequency on the
    distinct-per-doc shingle set — an n-gram repeated inside one doc
    counts once), ranked by doc_freq descending with the n-gram string
    as the deterministic tie-break. The standard first look at a new
    web crawl: the top of this table IS the nav-bar/cookie-banner/
    license-header inventory that :func:`line_dedup` and
    :func:`remove_duplicate_spans` then cut.

    Scale shape: shingle explode (scan-linear) → one count aggregate
    with map-side combine (hot n-grams collapse per map task, the
    shuffle is distinct-n-gram-sized) → global top-k via
    orderBy+limit, which Spark executes as TakeOrdered: each partition
    keeps its k best, the driver merges k·P candidate rows — no global
    sort shuffle. Output: (ngram, doc_freq, rank), exactly k rows (or
    fewer if the corpus has fewer distinct n-grams).
    """
    from pydin_spark.operators import dedup
    counts = (dedup.word_shingles(df, id_col, text_col, n)
              .groupBy("shingle")
              .agg(F.count(F.lit(1)).alias("doc_freq")))
    top = (counts.orderBy(F.desc("doc_freq"), F.asc("shingle"))
           .limit(int(k)))
    win = Window.orderBy(F.desc("doc_freq"), F.asc("shingle"))
    return (top.withColumn("rank", F.row_number().over(win))
            .select(F.col("shingle").alias("ngram"), "doc_freq", "rank"))


def collocations(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 50,
                 min_count: int = 5, delta: int = 1,
                 scale: int = 10 ** 6) -> DataFrame:
    """Top-``k`` bigram collocations by the word2phrase score
    (Mikolov et al. 2013, "Distributed Representations of Words and
    Phrases"): ``score = (c_xy - delta) * N / (c_x * c_y)`` — token
    pairs that co-occur far more than their unigram frequencies
    predict ("new york", "et al"). The phrase-mining front end for
    tokenizer vocab construction and n-gram feature engineering;
    ``delta`` discounts rare accidental pairs, ``min_count`` floors
    the evidence.

    The score is computed as ONE exact BIGINT expression —
    ``((c_xy - delta) * scale * N) div (c_x * c_y)`` — so both
    engines produce the identical integer and the top-k ranking is
    value-exact (a float log-PMI would differ in final ulps across
    libms; the fixed-point ratio ranks identically). Overflow bound:
    ``c_xy * scale * N < 2^63`` — at the default scale 1e6 that
    allows corpora to ~3e6 tokens; at 100 TB lower ``scale`` (the
    ranking is scale-invariant up to the floor).

    Scale shape: two explode aggregates with map-side combine
    (unigram + adjacent-bigram counts, shuffles are vocab-sized), the
    1-row token total broadcast onto the vocab-sized frame, two
    broadcast-sized joins of unigram counts onto bigram rows when the
    vocab fits (Catalyst picks; the frames are vocab-sized either
    way), then global top-k via orderBy+limit = TakeOrdered (no
    global sort). Output: (bigram, c_xy, c_x, c_y, score), ``k``
    rows ranked by (score desc, bigram).
    """
    toks = F.split(F.col(text_col), " ")
    base = df.where(F.size(toks) >= 2)
    # token stream WITH repetition: occurrence counts, not doc freq
    uni = (df.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    idx = F.sequence(F.lit(1), F.size(toks) - 1)
    grams = F.transform(
        idx, lambda i: F.struct(
            F.element_at(toks, i).alias("x"),
            F.element_at(toks, i + 1).alias("y")))
    bi = (base.select(F.explode(grams).alias("g"))
          .select(F.col("g.x").alias("x"), F.col("g.y").alias("y"))
          .groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
          .where(F.col("c_xy") >= int(min_count)))
    total = uni.agg(F.sum("c").alias("__n"))
    scored = (bi.join(uni.select(F.col("w").alias("x"),
                                 F.col("c").alias("c_x")), "x")
              .join(uni.select(F.col("w").alias("y"),
                               F.col("c").alias("c_y")), "y")
              .crossJoin(F.broadcast(total))
              .select(
                  F.concat_ws(" ", "x", "y").alias("bigram"),
                  "c_xy", "c_x", "c_y",
                  # true integer division (div), NOT double / + cast:
                  # doubles lose exactness past 2^53 and the oracle
                  # could rank the tail differently
                  F.expr(f"CAST(((c_xy - {int(delta)}) "
                         f"* {int(scale)} * __n) "
                         f"DIV (c_x * c_y) AS BIGINT)").alias("score")))
    return (scored.orderBy(F.desc("score"), F.asc("bigram"))
            .limit(int(k)))


def phrase_join(df: DataFrame, phrases: list[str],
                id_col: str = "doc_id", text_col: str = "text",
                joiner: str = "_",
                out_col: str = "phrased") -> DataFrame:
    """Compound the given bigram ``phrases`` ("new york", usually the
    :func:`collocations` winners in rank order) into single tokens
    ("new_york") — the word2phrase preprocessing step (Mikolov et al.
    2013) that makes downstream tokenization collocation-aware
    (ROADMAP 31): :func:`learn_bpe_merges` over the phrased corpus
    learns subwords WITHIN the compound as one word unit instead of
    splitting the collocation at the space.

    Semantics: phrases apply in the given order, each as two passes
    of leftmost non-overlapping literal replacement over the
    space-padded text (two passes because a replacement consumes its
    trailing space, hiding an immediately following occurrence from
    the same pass — "a b a b" joins both only on the second pass).
    Deterministic, pure JVM string expressions, and every engine's
    ``replace`` shares the leftmost-non-overlapping contract, so an
    oracle replays it verbatim. Leading/trailing whitespace of the
    original text is not preserved (the padding trim).
    """
    col = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    for p in phrases:
        parts = p.split(" ")
        if len(parts) != 2:
            raise ValueError(f"phrase {p!r} is not a bigram")
        x, y = parts
        s, r = F.lit(f" {x} {y} "), F.lit(f" {x}{joiner}{y} ")
        col = F.replace(F.replace(col, s, r), s, r)
    return df.select(F.col(id_col), F.trim(col).alias(out_col))


def phrase_bpe_tokenize(df: DataFrame, phrases: list[str],
                        merges: list[tuple[str, str]],
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        joiner: str = "_",
                        end_of_word: str = "</w>") -> DataFrame:
    """Collocation-aware BPE encode: :func:`phrase_join` then
    :func:`bpe_tokenize` — the standard word2phrase→BPE pipeline.
    Train the ``merges`` on the SAME phrased corpus
    (``learn_bpe_merges(phrase_join(df, phrases)...)``) so compound
    tokens and their subword merges agree."""
    phrased = phrase_join(df, phrases, id_col, text_col, joiner)
    return bpe_tokenize(phrased, merges, id_col=id_col,
                        text_col="phrased", end_of_word=end_of_word)


def extract_urls(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 blocklist: list[str] | None = None) -> DataFrame:
    """Per-document URL inventory: one row per ``http(s)://`` URL
    occurrence with its registrable host — the front end of
    domain-level curation (blocklists, per-domain caps, link-graph
    construction). With ``blocklist`` (a list of exact domain
    strings), adds ``blocked`` — the membership flag a crawl filter
    keys on; the list rides the plan as a literal array (broadcast by
    value), so the probe is a pure column scan.

    The pattern ``https?://[^\\s]+`` is lookaround-free (RE2-portable,
    the strip_markup discipline) and deliberately greedy-simple: URL
    grammar edge cases (trailing punctuation, brackets) are kept
    verbatim rather than half-normalized — canonicalization is a
    separate, deliberate step. The domain is the authority up to the
    first ``/``, ``?`` or ``#``, lowercased; ports kept.

    Scale shape: regexp_extract_all + one explode, zero shuffle,
    whole-stage codegen. Output: (id, url, domain[, blocked]).
    """
    urls = F.expr(
        f"regexp_extract_all({text_col}, 'https?://[^\\\\s]+', 0)")
    out = (df.select(F.col(id_col), F.explode(urls).alias("url"))
           .withColumn(
               "domain",
               F.lower(F.regexp_extract(
                   F.col("url"), r"^https?://([^/?#]+)", 1))))
    if blocklist is not None:
        out = out.withColumn(
            "blocked",
            F.col("domain").isin([d.lower() for d in blocklist]))
    return out


def vocab_coverage(df: DataFrame, k: int = 100,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Token coverage curve: the top-``k`` whitespace tokens by corpus
    OCCURRENCE count (not doc frequency) with each token's cumulative
    share of all token occurrences — the tokenizer/vocab-sizing
    diagnostic ("the top 100 tokens cover 38% of the corpus"; where
    the curve flattens is where a vocab stops paying for itself).
    Empty tokens from runs of whitespace are dropped in both engines.

    Scale shape: token explode → ONE count aggregate with map-side
    combine (shuffle is distinct-token-sized); the 1-row total is the
    SUM of those counts (distinct-token-sized input — the corpus is
    scanned exactly once); the global top-k is orderBy+limit =
    TakeOrdered (per-partition k, driver merges k·P rows), and the
    cumulative window runs over the already-materialized k rows — a
    k-row single partition by construction, never a corpus-sized one.

    Exactness: cumulative count is an exact BIGINT sum; the share is
    ONE division of two exact integers — bit-identical across engines
    (the curation_interleave lesson). Output: (rank, token, cnt,
    cum_share).
    """
    toks = (df.select(F.explode(F.split(F.col(text_col), r"\s+"))
                      .alias("token"))
            .where(F.col("token") != ""))
    # materialize the (distinct-token-sized) counts once: the total
    # and the top-k both read it — without this each branch would
    # re-run the corpus explode (one full extra scan at 100 TB)
    counts = (toks.groupBy("token")
              .agg(F.count(F.lit(1)).alias("cnt"))
              .localCheckpoint(eager=True))
    total = counts.groupBy().agg(F.sum("cnt").alias("__total"))
    top = (counts.orderBy(F.desc("cnt"), F.asc("token"))
           .limit(int(k)))
    win = (Window.orderBy(F.desc("cnt"), F.asc("token"))
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (top.crossJoin(F.broadcast(total))
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.desc("cnt"), F.asc("token"))))
            .withColumn("cum_cnt", F.sum("cnt").over(win))
            .select("rank", "token", "cnt",
                    (F.col("cum_cnt").cast("double")
                     / F.col("__total")).alias("cum_share")))


def char_entropy(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    classic compressibility proxy for word-salad / binary-garbage /
    keyboard-mash screening (low entropy = repeated filler, very high
    entropy = random bytes; natural language sits in a narrow band).
    Complements :func:`quality_score` (surface ratios) and
    :func:`bigram_logprob` (corpus LM): entropy needs no corpus pass
    and no token model, so it is the cheapest first gate.

    Entropy in nats over the per-doc character histogram:
    ``H = ln(n) - sum(c_i * ln(c_i)) / n`` where ``c_i`` counts each
    distinct character and ``n = sum(c_i)``. Computed with two hash
    aggregates: explode to (doc, char) with map-side combine — the
    shuffle carries one row per DISTINCT (doc, char) pair (bounded by
    docs x alphabet, NOT corpus characters) — then one row per doc.
    Pure Column ops, no Python.

    Output: (id, n_chars, entropy6) where ``entropy6`` is the entropy
    formatted to 6 decimals (the inventory's standard exact-hash float
    convention, same as :func:`bigram_logprob`). Empty texts produce
    NO row (char-splitting an empty string yields one empty fragment
    in both engines — it is filtered, leaving nothing to histogram),
    the same convention as every per-token operator here.

    Known grain divergence, pinned here rather than hidden: Spark's
    ``split`` counts UTF-16 code units, so characters outside the BMP
    (emoji, musical symbols) count as TWO entries while
    codepoint-based engines (DuckDB, most Rust/Go) count ONE. For BMP
    text — the gate fixtures and the overwhelming mass of crawl text
    — the engines agree exactly; corpora heavy in astral-plane
    symbols should NFC-normalize first and treat the entropy as a
    screening signal, not a cross-engine invariant.
    """
    chars = (df.select(F.col(id_col),
                       F.explode(F.split(F.col(text_col), ""))
                       .alias("ch"))
             .where(F.col("ch") != ""))
    hist = (chars.groupBy(id_col, "ch")
            .agg(F.count(F.lit(1)).alias("c")))
    per_doc = (hist.groupBy(id_col)
               .agg(F.sum("c").alias("n_chars"),
                    F.sum(F.col("c").cast("double") *
                          F.log(F.col("c").cast("double"))).alias("__clc")))
    ent = (F.log(F.col("n_chars").cast("double")) -
           F.col("__clc") / F.col("n_chars").cast("double"))
    return per_doc.select(
        F.col(id_col), F.col("n_chars"),
        F.format_string("%.6f", ent).alias("entropy6"))


def split_sentences(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sentence segmentation: each document becomes one row per
    sentence with a 1-based index — the grain perplexity filters,
    quote detectors, and sentence-level dedup (RefinedWeb) work at.

    Rule (shared verbatim with the SQL oracle): a sentence is a
    maximal run of non-terminator characters plus its trailing
    ``.!?`` run — ``regexp_extract_all(text, '[^.!?]+[.!?]*')`` —
    trimmed, with empty fragments dropped BEFORE indexing so
    ``sent_idx`` is contiguous over the kept sentences. The pattern is
    deliberately lookaround-free: Java regex (Spark) and RE2 (DuckDB
    / Go / Rust engines) agree on it character-for-character.

    Scale shape: transform + filter on the extracted array, then ONE
    posexplode — scan-linear, no shuffle, no Python; sentence rows
    inherit the parent partition so downstream per-sentence ops start
    co-located.

    Output: (id, sent_idx, sentence, n_words).
    """
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(F.col(text_col),
                                 F.lit(r"[^.!?]+[.!?]*"), F.lit(0)),
            lambda s: F.trim(s)),
        lambda s: s != F.lit(""))
    ex = df.select(F.col(id_col),
                   F.posexplode(sents).alias("__i", "sentence"))
    return ex.select(
        F.col(id_col),
        (F.col("__i") + F.lit(1)).cast("int").alias("sent_idx"),
        F.col("sentence"),
        F.size(F.split(F.col("sentence"), " ")).cast("int")
        .alias("n_words"))


def sentence_chunks(df: DataFrame, capacity: int = 64,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sentence-boundary-aware chunking — the RAG/packing prep that
    :func:`chunk_text` (fixed token windows) can't give: chunks never
    split a sentence. Rule (deterministic, shared verbatim with the
    SQL twin): sentence ``s`` lands in chunk
    ``floor(words_before_s / capacity)`` — a chunk closes once the
    words before the next sentence fill its capacity, so chunks
    average ``capacity`` words and may overflow by at most their last
    sentence (the price of the sentence-intact contract; an
    over-capacity single sentence owns the span it fills). Compared
    to greedy reset-at-boundary packing this cumulative rule is
    window-expressible (no sequential scan), which is what makes it
    both distributed-cheap and oracle-exact.

    Scale shape: :func:`split_sentences`' zero-shuffle explode, one
    running-sum window + one regroup on the SAME (id) key — two
    id-keyed shuffles total, corpus-linear. Output: (id, chunk_idx,
    text, n_sentences, n_words).
    """
    if int(capacity) <= 0:
        raise ValueError("capacity must be positive")
    s = split_sentences(df, id_col, text_col)
    w = (Window.partitionBy(id_col).orderBy("sent_idx")
         .rowsBetween(Window.unboundedPreceding, -1))
    c = s.withColumn(
        "chunk_idx",
        F.floor(F.coalesce(F.sum("n_words").over(w), F.lit(0))
                / F.lit(int(capacity))).cast("int"))
    return (c.groupBy(id_col, "chunk_idx")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("sent_idx", "sentence"))),
                    lambda x: x["sentence"]), " ").alias("text"),
                F.count(F.lit(1)).cast("int").alias("n_sentences"),
                F.sum("n_words").cast("bigint").alias("n_words")))


class StoredBigramLM:
    """Persisted bigram language model — the PERPLEXITY member of the
    stored-state family (CCNet's quality architecture: train the LM
    once on a reference corpus, score every new crawl batch against
    it without ever rescanning the reference). State is three
    append-only delta tables under ``path`` — ``vocab`` (w), ``hist``
    (w1, c1), ``pair`` (w1, w2, c2) — plus a ``commits`` log; counts
    are MERGEABLE (plain sums), so ``extend()`` appends a delta batch
    and serving aggregates on read, exactly the
    :class:`~pydin_spark.operators.rollup.ContinuousRollup`
    pre-aggregate discipline.

    Crash safety: each build/extend writes its rows tagged with a
    batch id and lands ONE commit row last; readers semi-join on
    committed ids, so a crashed ``extend`` leaves only invisible rows
    (``maintain`` sweeps them and compacts deltas into one row per
    key). ``build`` and ``maintain``'s collapse append their rows
    under a fresh batch and then swap in a one-row commit log
    (:class:`~pydin_spark.operators.stored.CommitLog`): a crash at
    any point keeps serving the previous LM, never an empty or
    partial one.

    ``score(docs)`` is :func:`bigram_logprob`'s formula against the
    STORED counts — ``ln((c2 + a) / (c1 + a*V))`` averaged per doc,
    with unseen bigrams/histories coalesced to 0 (the smoothing's
    whole point). Scoring a corpus against an LM trained on ITSELF
    equals bigram_logprob exactly; that equivalence plus the
    stored-vs-SQL gate (text_bigram_lm_stored) pins the state path.
    """

    def __init__(self, path: str, alpha: float = 0.5):
        self.path = str(path).rstrip("/")
        self.alpha = float(alpha)
        self._log = CommitLog(self.path, ("vocab", "hist", "pair"))

    def _read(self, spark, name: str) -> DataFrame:
        if not self._log.has_state(spark):
            raise ValueError(
                f"no stored LM at {self.path} — build() first")
        return self._log.read(spark, name)

    def _write_batch(self, corpus: DataFrame, id_col: str,
                     text_col: str, replace: bool) -> dict:
        big, base = _word_bigrams(corpus, id_col, text_col)
        big = big.persist()
        frames = {
            "vocab": base.select(F.explode("t").alias("w")).distinct(),
            "hist": big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1")),
            "pair": big.groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c2"))}
        bid = self._log.commit(corpus.sparkSession, frames,
                               replace=replace)
        big.unpersist()
        return {"batch_id": bid}

    def build(self, corpus: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> dict:
        """Train from scratch (replaces any prior state)."""
        return self._write_batch(corpus, id_col, text_col, True)

    def extend(self, corpus: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> dict:
        """Add a corpus batch to the LM — counts merge additively, so
        extend(B) after build(A) serves the IDENTICAL model as
        build(A+B) (pinned by test)."""
        return self._write_batch(corpus, id_col, text_col, False)

    def vocab_size(self, spark) -> int:
        return self._read(spark, "vocab").select("w").distinct().count()

    def score(self, docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
        """Per-doc smoothed bigram fluency against the stored counts.
        Output: (id, n_bigrams, avg_logprob). Docs with < 2 tokens
        produce no row (no bigrams), as in :func:`bigram_logprob`.
        """
        spark = docs.sparkSession
        v = self.vocab_size(spark)
        if v == 0:
            raise ValueError(
                f"stored LM at {self.path} has an empty vocabulary — "
                "build()/extend() with a non-empty corpus first "
                "(scoring would divide by alpha*0)")
        hist = self._read(spark, "hist").groupBy("w1") \
            .agg(F.sum("c1").alias("c1"))
        pair = self._read(spark, "pair").groupBy("w1", "w2") \
            .agg(F.sum("c2").alias("c2"))
        big, _ = _word_bigrams(docs, id_col, text_col)
        return (big.join(pair, ["w1", "w2"], "left")
                .join(hist, "w1", "left")
                .withColumn("lp", _lidstone_logprob(self.alpha, v))
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_bigrams"),
                     F.avg("lp").alias("avg_logprob")))

    def maintain(self, spark, max_files: int = 64,
                 target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Stored-state upkeep (the ``maintain_states`` contract):
        sweep uncommitted orphan rows, collapse the delta history to
        one row per key once the commit log fragments, and compact
        small files. Serve results are unchanged across the sweep
        (sums of sums)."""
        return self._log.maintain(spark, self._merged, 1,
                                  max_files=max_files,
                                  target_file_bytes=target_file_bytes)

    def _merged(self, spark) -> dict:
        # EAGER checkpoints: the committed state is fully materialized
        # off the parquet files before the collapse appends to them
        return {
            "vocab": self._read(spark, "vocab").distinct()
            .localCheckpoint(eager=True),
            "hist": self._read(spark, "hist").groupBy("w1")
            .agg(F.sum("c1").alias("c1")).localCheckpoint(eager=True),
            "pair": self._read(spark, "pair").groupBy("w1", "w2")
            .agg(F.sum("c2").alias("c2")).localCheckpoint(eager=True)}


def compression_ratio(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      level: int = 6) -> DataFrame:
    """zlib-DEFLATE compression ratio per document — the classic
    redundancy signal (Gopher-era ancestry: text that compresses far
    below ~0.3 is boilerplate/repetition, text near 1.0 is noise or
    non-text), complementing :func:`char_entropy` (which sees only
    the unigram character histogram — a doc of shuffled words keeps
    its entropy but loses its compressibility structure).

    This is an HONEST Arrow-batched Python stage (the documented UDF
    escape hatch, like BPE apply): DEFLATE's LZ77+Huffman loop is not
    expressible in Spark's expression language, and ``zlib`` is
    stdlib — no environment gate. Per Arrow batch the loop is a tight
    C call per row; no driver collect, no shuffle (plan-gated).
    DuckDB ships no zlib scalar, so the gate's oracle joins a
    COMMITTED fixture of stdlib-zlib lengths keyed by md5(text)
    (``tools/make_zlib_fixture.py``) — hash-exact like every other
    entry — plus a byte-exact pytest against the same stdlib call.

    ``ratio = n_compressed / n_bytes`` over UTF-8 bytes; empty/NULL
    text yields n_bytes 0 and a NULL ratio (no content to judge).
    Output: (id, n_bytes, n_compressed, ratio DOUBLE).
    """
    if not 0 <= int(level) <= 9:
        raise ValueError("level must be a zlib level in [0, 9]")
    lvl = int(level)

    def score(batches):
        import zlib

        import pandas as pd
        for pdf in batches:
            out_rows = []
            # zip over the two columns — iterrows() builds a Series
            # per row and would dominate the zlib call itself
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or text == "" or text is pd.NA \
                        or (isinstance(text, float)):
                    out_rows.append((doc_id, 0, 0, None))
                    continue
                raw = text.encode("utf-8")
                comp = zlib.compress(raw, lvl)
                out_rows.append((doc_id, len(raw), len(comp),
                                 len(comp) / len(raw)))
            yield pd.DataFrame(out_rows,
                               columns=[id_col, "n_bytes",
                                        "n_compressed", "ratio"])

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        score,
        schema=f"{id_col} {id_type}, n_bytes long, "
               "n_compressed long, ratio double")
