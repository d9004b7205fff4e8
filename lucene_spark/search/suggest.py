"""Suggesters over the term dictionary.

- :func:`prefix_suggest` — AnalyzingSuggester's core contract
  (`suggest/src/java/org/apache/lucene/search/suggest/analyzing/AnalyzingSuggester.java`):
  completions sharing the typed prefix, best weight first. Lucene
  walks a weighted FST; the terms table with a prefix predicate +
  `TakeOrderedAndProject` is the distributed equivalent (the prefix
  predicate hits parquet min/max pruning on the term-sorted table,
  playing the FST-arc role).
- :func:`infix_suggest` — AnalyzingInfixSuggester
  (`analyzing/AnalyzingInfixSuggester.java:94-120`): matches the
  fragment ANYWHERE in the suggestion (it indexes edge-grams of every
  token); weight-ordered. Re-expressed as a contains predicate; the
  scale path indexes the suggestions' edge n-grams
  (:func:`lucene_spark.analysis.filters.edge_ngrams`) so lookup is an
  equi-join on the gram instead of a substring scan.

Weights default to document frequency (the "popularity" weight the
suggest module's LineFileDocs examples use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lucene_spark.index.builder import InvertedIndex

__all__ = [
    "prefix_suggest",
    "infix_suggest",
    "fuzzy_suggest",
    "blended_infix_suggest",
    "build_freetext_model",
    "freetext_suggest",
    "word_break_suggest",
    "word_combine_suggest",
    "context_suggest",
]


def prefix_suggest(index: InvertedIndex, prefix: str, n: int = 10) -> DataFrame:
    """(term, weight) completions of `prefix`, weight desc / term asc."""
    return (
        index.terms.filter(F.col("term").startswith(prefix))
        .select("term", F.col("doc_freq").alias("weight"))
        .orderBy(F.col("weight").desc(), F.col("term").asc())
        .limit(n)
    )


def infix_suggest(index: InvertedIndex, fragment: str, n: int = 10) -> DataFrame:
    """(term, weight) suggestions containing `fragment` anywhere,
    weight desc / term asc (AnalyzingInfixSuggester.lookup)."""
    return (
        index.terms.filter(F.col("term").contains(fragment))
        .select("term", F.col("doc_freq").alias("weight"))
        .orderBy(F.col("weight").desc(), F.col("term").asc())
        .limit(n)
    )


def blended_infix_suggest(
    suggestions: DataFrame,
    fragment: str,
    n: int = 10,
    blender: str = "reciprocal",
    linear_coef: float = 0.10,
) -> DataFrame:
    """BlendedInfixSuggester
    (`suggest/src/java/org/apache/lucene/search/suggest/analyzing/BlendedInfixSuggester.java:56-214`):
    infix lookup over multi-token suggestion strings where the stored
    weight is BLENDED by the position of the first matching token
    (`calculateCoefficient`):

    - ``reciprocal`` (POSITION_RECIPROCAL): coef = 1 / (position + 1)
    - ``linear`` (POSITION_LINEAR): coef = 1 − linear_coef · position
      (no floor, as in the reference)

    and the blended score is ``(long) (weight * coef)`` — the
    reference truncates to long (`BlendedInfixSuggester.java` weight
    recomputation), kept here for parity. A token matches when it
    starts with `fragment` (the suggester indexes each token's edge
    grams). ``suggestions`` = DataFrame(suggestion string,
    weight long). Returns (suggestion, score long), score desc /
    suggestion asc, limit n — all JVM higher-order functions, no UDF.
    """
    if blender not in ("reciprocal", "linear"):
        raise ValueError("blender must be 'reciprocal' or 'linear'")
    frag = fragment.replace("\\", "\\\\").replace("'", "\\'")
    # 0-based position of the first token starting with the fragment
    pos = F.expr(
        "array_min(filter(transform(split(suggestion, ' '), (t, i) -> "
        f"CASE WHEN substring(t, 1, {len(fragment)}) = '{frag}' THEN i END), "
        "x -> x IS NOT NULL))"
    )
    matched = suggestions.withColumn("_p", pos).filter(F.col("_p").isNotNull())
    if blender == "reciprocal":
        coef = F.lit(1.0) / (F.col("_p") + F.lit(1.0))
    else:
        coef = F.lit(1.0) - F.lit(float(linear_coef)) * F.col("_p")
    return (
        matched.select(
            "suggestion",
            (F.col("weight") * coef).cast("long").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("suggestion").asc())
        .limit(n)
    )


def fuzzy_suggest(
    index: InvertedIndex,
    key: str,
    n: int = 10,
    max_edits: int = 1,
    non_fuzzy_prefix: int = 1,
    min_fuzzy_length: int = 3,
) -> DataFrame:
    """FuzzySuggester
    (`suggest/src/java/org/apache/lucene/search/suggest/analyzing/FuzzySuggester.java:66-118`):
    completions tolerating typos in the typed key — a term is
    suggested when SOME PREFIX of it is within Damerau-Levenshtein
    distance ``max_edits`` of the key (the reference intersects the
    key's Levenshtein automaton, suffixed with "anything", against the
    suggest FST; "prefix within distance d" is exactly that automaton's
    language). Reference defaults kept: the first
    ``non_fuzzy_prefix`` characters must match exactly
    (FuzzySuggester.java DEFAULT_NON_FUZZY_PREFIX=1) and keys shorter
    than ``min_fuzzy_length`` fall back to exact prefix completion
    (DEFAULT_MIN_FUZZY_LENGTH=3). Weight = doc_freq, weight desc /
    term asc.

    Plan: DL(p, key) >= |len(p) - len(key)|, so only prefixes with
    length in [len(key)-max_edits, len(key)+max_edits] can qualify —
    each dictionary term contributes at most 2·max_edits+1 candidate
    prefixes (exploded JVM-side), and the Arrow-batched DL UDF runs
    over that vocabulary-sized frame only, never the corpus (the same
    dictionary-not-corpus shape as FuzzyQuery's rewrite).
    """
    if len(key) < min_fuzzy_length:
        return prefix_suggest(index, key, n)
    lk = len(key)
    lo, hi = max(non_fuzzy_prefix, lk - max_edits), lk + max_edits
    cand = index.terms.filter(
        F.col("term").startswith(key[:non_fuzzy_prefix])
        & (F.length("term") >= lo)
    ).select("term", F.col("doc_freq").alias("weight"))
    pref = cand.select(
        "term",
        "weight",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(lo), F.least(F.length("term"), F.lit(hi))
                ),
                lambda i: F.col("term").substr(F.lit(1), i),
            )
        ).alias("p"),
    )
    from lucene_spark.functions.editdist import damerau_within_udf

    hit = pref.filter(damerau_within_udf(key, max_edits)(F.col("p")))
    return (
        hit.select("term", "weight")
        .distinct()
        .orderBy(F.col("weight").desc(), F.col("term").asc())
        .limit(n)
    )


# --- FreeTextSuggester (n-gram stupid-backoff LM) --------------------------


def build_freetext_model(
    df: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """N-gram counts for FreeTextSuggester
    (`suggest/analyzing/FreeTextSuggester.java:93-126`): all grams of
    order 1..n over each doc's whitespace token stream (the reference
    runs a 1..n ShingleFilter), space-separated.

    Returns (gram string, ord int, cnt long) — one partial-agg'd
    groupBy, persistable as the suggester's "FST" analog. The model is
    a plain table, so at 100 TB it builds like any facet agg and the
    lookup is metadata-light prefix filtering.
    """
    toks = F.split(F.col(text_col), " ")
    toks = F.filter(toks, lambda t: t != F.lit(""))

    def joiner(o):
        # single-arg lambda: a two-arg lambda would receive the array
        # INDEX as its second parameter (F.transform's signature)
        return lambda i: F.array_join(F.slice(toks, i, o), " ")

    levels = []
    for order in range(1, n + 1):
        shingle = F.when(
            F.size(toks) >= order,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (order - 1)),
                joiner(order),
            ),
        ).otherwise(F.array().cast("array<string>"))
        levels.append(
            df.select(F.explode(shingle).alias("gram")).withColumn(
                "ord", F.lit(order)
            )
        )
    grams = levels[0]
    for lv in levels[1:]:
        grams = grams.unionByName(lv)
    return grams.groupBy("gram", "ord").agg(F.count(F.lit(1)).alias("cnt"))


def freetext_suggest(
    model: DataFrame, key: str, k: int = 10, alpha: float = 0.4
) -> DataFrame:
    """Stupid-backoff completion of `key`'s last (possibly partial)
    token (`FreeTextSuggester.java:520-710`; Brants et al. 2007).

    For gram order g+1 from highest down: context = last g completed
    tokens, candidates = (g+1)-grams extending "context prefix…";
    score = alpha^backoffs · cnt(gram)/cnt(context) (totTokens for
    unigrams). A last-token suggested by a higher-order level is
    excluded from lower levels. One documented departure from the
    reference: the exclusion covers ALL higher-level candidates, not
    just the top-k that fit Lucene's bounded TopNSearcher queue —
    deterministic and expressible in the SQL oracle.

    Returns (suggestion, score): full completions (context + token),
    score desc / suggestion asc, limit k.
    """
    # one agg for (max order, unigram total), one bounded collect for
    # every context gram's count — not one job per level (the model is
    # deliberately unpersisted, so each extra job would recompute the
    # full 1..n-gram aggregation)
    stats = model.agg(
        F.max("ord").alias("mo"),
        F.sum(F.when(F.col("ord") == 1, F.col("cnt"))).alias("tot"),
    ).collect()[0]
    max_order = int(stats["mo"] or 1)
    tot = int(stats["tot"] or 1)
    parts = key.split(" ")
    prefix = parts[-1]
    context_all = [t for t in parts[:-1] if t]

    top_g = min(max_order - 1, len(context_all))
    ctx_of = {
        g: " ".join(context_all[len(context_all) - g :])
        for g in range(1, top_g + 1)
    }
    ctx_counts = {}
    if ctx_of:
        for r in model.filter(
            F.col("gram").isin(list(ctx_of.values()))
        ).collect():
            ctx_counts[(int(r["ord"]), r["gram"])] = int(r["cnt"])

    levels = []
    backoff = 1.0
    for g in range(top_g, -1, -1):
        ctx_str = ctx_of.get(g, "")
        if g > 0:
            denom_i = ctx_counts.get((g, ctx_str))
            if denom_i is None:
                backoff *= alpha
                continue
            denom = float(denom_i)
            gram_prefix = ctx_str + " " + prefix
        else:
            denom = float(tot)
            gram_prefix = prefix
        cand = model.filter(
            (F.col("ord") == g + 1) & F.col("gram").startswith(gram_prefix)
        ).select(
            F.element_at(F.split(F.col("gram"), " "), -1).alias("last_tok"),
            (F.lit(backoff) * F.col("cnt") / F.lit(denom)).alias("score"),
        )
        levels.append((ctx_str, cand))
        backoff *= alpha

    if not levels:
        spark = model.sparkSession
        return spark.createDataFrame([], "suggestion string, score double")

    full_ctx = " ".join(context_all)
    out = None
    seen = None
    for ctx_str, cand in levels:
        if seen is not None:
            cand = cand.join(seen, "last_tok", "left_anti")
        # no persist: each level is a narrow filtered agg over the
        # model and is recomputed at most once for the seen-set union
        # (persisting here would leak cache across calls — the same
        # pattern the round-2 advice flagged in search_after)
        seen = (
            cand.select("last_tok").distinct()
            if seen is None
            else seen.unionByName(cand.select("last_tok")).distinct()
        )
        scored = cand.select(
            (
                F.concat(F.lit(full_ctx + " " if full_ctx else ""), F.col("last_tok"))
            ).alias("suggestion"),
            "score",
        )
        out = scored if out is None else out.unionByName(scored)
    return (
        out.orderBy(F.col("score").desc(), F.col("suggestion").asc())
        .limit(k)
        .select("suggestion", F.round("score", 6).alias("score"))
    )


def word_break_suggest(
    index: InvertedIndex,
    word: str,
    min_break_len: int = 1,
    min_suggestion_freq: int = 1,
    k: int = 10,
    sort: str = "sum",
) -> DataFrame:
    """WordBreakSpellChecker.suggestWordBreaks
    (`lucene/suggest/src/java/org/apache/lucene/search/spell/WordBreakSpellChecker.java:74`,
    single break = maxChanges 1): split `word` at every position
    where BOTH halves are dictionary terms with docFreq >=
    `min_suggestion_freq`, ranked by the summed (or max — the two
    BreakSuggestionSortMethods, :56-60) part frequencies.

    The candidate split list is tiny (len(word)-1 rows) and joins the
    distributed terms table twice — a dictionary probe, no collect.

    Returns (left_part, right_part, left_freq, right_freq, score).
    """
    if sort not in ("sum", "max"):
        raise ValueError("sort must be 'sum' or 'max'")
    spark = index.spark
    m = max(1, int(min_break_len))
    cands = [(word[:i], word[i:]) for i in range(m, len(word) - m + 1)]
    if not cands:
        return spark.createDataFrame(
            [],
            "left_part string, right_part string, left_freq long, "
            "right_freq long, score long",
        )
    cdf = spark.createDataFrame(cands, "left_part string, right_part string")
    t = index.terms.select("term", "doc_freq")
    j = (
        cdf.join(
            t.select(
                F.col("term").alias("left_part"),
                F.col("doc_freq").alias("left_freq"),
            ),
            "left_part",
        )
        .join(
            t.select(
                F.col("term").alias("right_part"),
                F.col("doc_freq").alias("right_freq"),
            ),
            "right_part",
        )
        .filter(
            (F.col("left_freq") >= min_suggestion_freq)
            & (F.col("right_freq") >= min_suggestion_freq)
        )
    )
    score = (
        (F.col("left_freq") + F.col("right_freq"))
        if sort == "sum"
        else F.greatest(F.col("left_freq"), F.col("right_freq"))
    )
    return (
        j.select("left_part", "right_part", "left_freq", "right_freq", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("left_part").asc())
        .limit(k)
    )


def word_combine_suggest(
    index: InvertedIndex,
    words,
    min_suggestion_freq: int = 1,
    more_popular: bool = False,
    k: int = 10,
) -> DataFrame:
    """WordBreakSpellChecker.suggestWordCombinations (:140-230, pair
    combinations = maxChanges 1): adjacent query words whose
    concatenation is a dictionary term with docFreq >=
    `min_suggestion_freq` (and, in SUGGEST_MORE_POPULAR mode, >= the
    more popular component's docFreq). freq = the combined term's
    docFreq, like the reference's SuggestWord.

    Returns (word1, word2, combined, freq).
    """
    spark = index.spark
    pairs = [
        (words[i], words[i + 1], words[i] + words[i + 1])
        for i in range(len(words) - 1)
    ]
    if not pairs:
        return spark.createDataFrame(
            [], "word1 string, word2 string, combined string, freq long"
        )
    pdf = spark.createDataFrame(pairs, "word1 string, word2 string, combined string")
    t = index.terms.select("term", "doc_freq")
    j = pdf.join(
        t.select(F.col("term").alias("combined"), F.col("doc_freq").alias("freq")),
        "combined",
    ).filter(F.col("freq") >= min_suggestion_freq)
    if more_popular:
        w1 = t.select(F.col("term").alias("word1"), F.col("doc_freq").alias("f1"))
        w2 = t.select(F.col("term").alias("word2"), F.col("doc_freq").alias("f2"))
        j = (
            j.join(w1, "word1", "left")
            .join(w2, "word2", "left")
            .filter(
                F.col("freq")
                >= F.greatest(
                    F.coalesce(F.col("f1"), F.lit(0)),
                    F.coalesce(F.col("f2"), F.lit(0)),
                )
            )
            .drop("f1", "f2")
        )
    return (
        j.select("word1", "word2", "combined", "freq")
        .orderBy(F.col("freq").desc(), F.col("combined").asc())
        .limit(k)
    )


def context_suggest(
    suggestions: DataFrame,
    prefix: str,
    contexts: "dict[str, float] | None" = None,
    n: int = 10,
    exact: bool = True,
) -> DataFrame:
    """ContextQuery over ContextSuggestField entries
    (`suggest/document/ContextQuery.java:63`,
    `ContextSuggestField.java:33`): prefix completion filtered and/or
    boosted by per-suggestion contexts.

    `suggestions` is the (suggestion, context, weight) table the
    reference encodes as ``context<sep>suggestion`` FST keys; here it
    is a plain frame (written sorted/bucketed by suggestion prefix at
    scale so the prefix predicate prunes). Semantics follow the
    reference:

    - ``contexts=None`` ≡ ``addAllContexts()``: every context matches
      with boost 1;
    - otherwise a suggestion row matches when its context equals a key
      (``exact=True``) or starts with it (``exact=False``,
      `addContext(ctx, boost, false)`), and scores
      ``weight * boost``;
    - a suggestion visible under several matching contexts keeps its
      best score (the FST union's max), dedup'd in one groupBy.

    Returns (suggestion, score) ordered score desc / suggestion asc.
    """
    cand = suggestions.filter(F.col("suggestion").startswith(prefix))
    if contexts:
        boost = None
        for ctx, b in sorted(contexts.items()):
            cond = (
                (F.col("context") == ctx)
                if exact
                else F.col("context").startswith(ctx)
            )
            leg = F.when(cond, F.lit(float(b)))
            boost = leg if boost is None else boost.when(cond, F.lit(float(b)))
        # chained when(): the FIRST matching context in sorted order
        # wins the boost slot; ties across contexts resolved by the
        # max-score groupBy below, so order only matters within one row
        cand = cand.withColumn("_boost", boost).filter(
            F.col("_boost").isNotNull()
        )
    else:
        cand = cand.withColumn("_boost", F.lit(1.0))
    return (
        cand.groupBy("suggestion")
        .agg(F.max(F.col("weight") * F.col("_boost")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("suggestion").asc())
        .limit(n)
    )


def exact_first_suggest(
    index: InvertedIndex, prefix: str, n: int = 10
) -> DataFrame:
    """AnalyzingSuggester with EXACT_FIRST
    (`analyzing/AnalyzingSuggester.java:115,716`; also the
    WFSTCompletionLookup `exactFirst` flag,
    `suggest/fst/WFSTCompletionLookup.java:76`): a completion whose
    analyzed form EQUALS the typed key outranks every other
    completion regardless of weight; the rest follow weight desc /
    term asc. One extra boolean sort key over the same
    prefix-pruned terms-table scan as :func:`prefix_suggest` — the
    TakeOrderedAndProject stays k-bounded."""
    return (
        index.terms.filter(F.col("term").startswith(prefix))
        .select(
            "term",
            F.col("doc_freq").alias("weight"),
            (F.col("term") == F.lit(prefix)).cast("int").alias("is_exact"),
        )
        .orderBy(
            F.col("is_exact").desc(), F.col("weight").desc(), F.col("term").asc()
        )
        .limit(n)
    )


def file_dictionary(
    spark, path_or_lines, field_delimiter: str = "\t"
):
    """FileDictionary analog (`suggest/FileDictionary.java:44`): lines
    of ``term[<delim>weight[<delim>payload]]`` → a suggestions frame
    (term, weight, payload).  More than 3 fields raises; a term-only
    line weighs 1; weights keep the reference's long-then-double
    parse (the double path truncates toward zero like Java's (long)
    cast).  Reads distributed via ``spark.read.text`` when given a
    path — the dictionary never collects.
    """
    import re as _re

    from pyspark.sql import functions as F

    if isinstance(path_or_lines, str):
        raw = spark.read.text(path_or_lines)
    else:
        raw = spark.createDataFrame(
            [(ln,) for ln in path_or_lines], "value string"
        )
    # F.split takes a Java REGEX; the reference splits on the literal
    # delimiter, so escape it (a "|" delimiter must not split per-char)
    fields = raw.select(
        F.split("value", _re.escape(field_delimiter)).alias("f")
    )
    # lazy single-pass validation, like FileDictionary raising during
    # iteration: the error columns only evaluate on >3-field rows and on
    # weights that parse as neither long nor double
    raw_weight = F.element_at("f", 2)
    weight = F.when(
        F.size("f") > 3,
        F.raise_error(F.lit("More than 3 fields in one line")).cast("long"),
    ).otherwise(
        F.when(F.size("f") < 2, F.lit(1).cast("long")).otherwise(
            F.coalesce(
                raw_weight.try_cast("long"),
                raw_weight.try_cast("double").cast("long"),
                F.raise_error(
                    F.concat(F.lit("Unparsable weight: "), raw_weight)
                ).cast("long"),
            )
        )
    )
    return fields.select(
        F.element_at("f", 1).alias("term"),
        weight.alias("weight"),
        F.when(F.size("f") >= 3, F.element_at("f", 3)).alias("payload"),
    )


def plain_text_dictionary(spark, path_or_lines):
    """PlainTextDictionary analog (`suggest/PlainTextDictionary.java`):
    one term per line, unit weights, no payloads."""
    from pyspark.sql import functions as F

    if isinstance(path_or_lines, str):
        raw = spark.read.text(path_or_lines)
    else:
        raw = spark.createDataFrame(
            [(ln,) for ln in path_or_lines], "value string"
        )
    return raw.select(
        F.col("value").alias("term"),
        F.lit(1).cast("long").alias("weight"),
        F.lit(None).cast("string").alias("payload"),
    )
