"""Corpus-level lexical statistics: windowed co-occurrence / PMI
collocations and Zipf rank-frequency slope.

Beyond-reference (SURVEY.md §2 extension set): the corpus-health
reports a training-data pipeline runs per snapshot — PMI surfaces
collocations and templated boilerplate (pairs glued together far more
often than chance), the Zipf log-log slope is a one-number distribution
fingerprint (natural text ≈ −1; scraped spam and synthetic word-soup
flatten or steepen it, and a slope SHIFT between snapshots flags a
source mix change).

Scale shapes:
  * Pair extraction is ARRAY-SIDE: for each gap j ≤ window, `zip_with`
    over two slices of the token array builds (w_i, w_{i+j}) pairs in a
    narrow map stage — no posexplode self-join, nothing quadratic (the
    same trick as lm.py's bigrams and textstats' lead-free n-grams).
  * Everything aggregates through partial/final-combinable counts; the
    only scalars (total tokens, total pairs) come back via broadcast
    cross-join, never a driver collect.
  * The shuffle carries (pair, count) — at production scale swap the
    string pair key for `portable_hash64` longs; the oracle-facing
    form keeps strings so the DuckDB twin needs no hash emulation.
  * Zipf ranking shuffles the (lang, word, count) table once; the
    regression consumes only the top `top_n` rows per language.

Determinism: top-N uses the fully-unique order (rounded score DESC,
pair ASC); ranks tie-break on the word itself; floats round before
comparison/output (registry contract, testdata_queries.py module doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# registry-wide tokenizer contract — shared with textstats/lm
from ad_data_pipelines_spark.operators.textstats import TOKEN_SEP as _SEP


def _token_arrays(docs: DataFrame, extra_cols: list[str] = []) -> DataFrame:
    arr = F.filter(
        F.split(F.trim("text"), _SEP), lambda x: x != F.lit("")
    )
    return docs.select("doc_id", *extra_cols, arr.alias("toks"))


def cooccurrence_pmi(
    docs: DataFrame,
    window: int = 3,
    min_pair: int = 5,
    top_n: int = 100,
    round_dp: int = 4,
) -> DataFrame:
    """Top-`top_n` ordered token pairs (w_i before w_j, gap ≤ `window`)
    by pointwise mutual information: (pair, n_pair, pmi).

    pmi = ln(p(a,b) / (p(a)·p(b))) with p(a,b) = pairs/total_pairs and
    p(w) = tokens/total_tokens; `min_pair` floors the count so rare
    coincidences can't dominate the top of the report.

    Only the unigram table is materialized (localCheckpoint): it is
    vocabulary-sized and feeds two join legs, and uncut its subtree
    executed once per leg (ReusedExchange does not unify aggregate
    subtrees under AQE). The pair-count table is corpus-sized and has
    one consumer, so it streams from its hash-partitioned aggregate
    straight into the scoring joins — pinning it to unreplicated
    executor storage bought nothing and cost 1.56 → 3.57 s on
    llm_cooccurrence (8 quiet cores, sf0.1). The total pair count
    comes from a narrow aggregate over array sizes (no explode, a
    1-row shuffle), the total token count from the cut unigram table.
    The cut blocks are reclaimed by the ContextCleaner once the frame
    goes out of scope.
    """
    base = _token_arrays(docs)
    n = F.size("toks")
    pair_arrays = [
        F.zip_with(
            F.slice("toks", 1, F.greatest(n - j, F.lit(0))),
            F.slice("toks", 1 + j, F.greatest(n - j, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        for j in range(1, window + 1)
    ]
    pairs = base.select(
        F.explode(F.concat(*pair_arrays)).alias("pair")
    )
    cp = pairs.groupBy("pair").agg(F.count("*").alias("n_pair"))
    toks = base.select(F.explode("toks").alias("w"))
    cu = toks.groupBy("w").agg(F.count("*").alias("cw")).localCheckpoint()

    # total pair slots Σ_docs Σ_j max(n-j, 0) == SUM(n_pair) and total
    # tokens Σ_docs n == SUM(cw): the same integers either way, so the
    # cast-to-double totals do not depend on which side computes them.
    # localCheckpoint, not persist: CacheManager matches persists by
    # canonicalized plan, so a persisted count table would silently
    # serve CACHED results to a later identical call (e.g. the bench's
    # n=3 loop) — the eager per-call cut re-executes every invocation.
    n_pairs_per_doc = sum(
        [F.greatest(n - j, F.lit(0)) for j in range(1, window + 1)],
        F.lit(0),
    )
    totals = base.agg(
        F.sum(n_pairs_per_doc).cast("double").alias("tp")
    ).crossJoin(cu.agg(F.sum("cw").cast("double").alias("tt")))

    scored = (
        cp.filter(F.col("n_pair") >= min_pair)
        .withColumn("wa", F.split("pair", " ")[0])
        .withColumn("wb", F.split("pair", " ")[1])
        .join(cu.select(F.col("w").alias("wa"), F.col("cw").alias("ca")), "wa")
        .join(cu.select(F.col("w").alias("wb"), F.col("cw").alias("cb")), "wb")
        .crossJoin(F.broadcast(totals))
        .select(
            "pair",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("n_pair") * F.col("tt") * F.col("tt"))
                    / (F.col("tp") * F.col("ca") * F.col("cb"))
                ),
                round_dp,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("pair")).limit(top_n)


def cooccurrence_pmi_sql(
    window: int = 3, min_pair: int = 5, top_n: int = 100, round_dp: int = 4
) -> str:
    """DuckDB twin of `cooccurrence_pmi` over the documents table."""
    per_gap = ", ".join(
        f"list_transform(range(1, GREATEST(len(toks) - {j} + 1, 1)), "
        f"i -> toks[i] || ' ' || toks[i + {j}])"
        for j in range(1, window + 1)
    )
    return f"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        pairs AS (
            SELECT unnest(flatten([{per_gap}])) AS pair FROM base
        ),
        cp AS (SELECT pair, COUNT(*) AS n_pair FROM pairs GROUP BY pair),
        tp AS (SELECT CAST(SUM(n_pair) AS DOUBLE) AS tp FROM cp),
        cu AS (
            SELECT w, COUNT(*) AS cw
            FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w
        ),
        tt AS (SELECT CAST(SUM(cw) AS DOUBLE) AS tt FROM cu)
        SELECT pair,
               CAST(n_pair AS BIGINT) AS n_pair,
               ROUND(ln((n_pair * tt * tt) / (tp * ca.cw * cb.cw)),
                     {round_dp}) AS pmi
        FROM cp
        JOIN cu ca ON split_part(pair, ' ', 1) = ca.w
        JOIN cu cb ON split_part(pair, ' ', 2) = cb.w
        CROSS JOIN tp CROSS JOIN tt
        WHERE n_pair >= {min_pair}
        ORDER BY pmi DESC, pair ASC
        LIMIT {top_n}
    """


def zipf_slope(
    docs: DataFrame,
    group_col: str = "lang",
    top_n: int = 100,
    round_dp: int = 4,
) -> DataFrame:
    """Per-group Zipf fit: OLS slope of ln(frequency) on ln(rank) over
    the `top_n` most frequent words — (group, n_top, zipf_slope).
    Natural language sits near −1; deviations flag distribution shift.
    """
    words = _token_arrays(docs, [group_col]).select(
        group_col, F.explode("toks").alias("w")
    )
    wc = words.groupBy(group_col, "w").agg(F.count("*").alias("cnt"))
    rk = Window.partitionBy(group_col).orderBy(F.desc("cnt"), F.asc("w"))
    ranked = wc.withColumn("rank", F.row_number().over(rk)).filter(
        F.col("rank") <= top_n
    )
    return ranked.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_top"),
        F.round(
            F.regr_slope(F.log("cnt"), F.log("rank")), round_dp
        ).alias("zipf_slope"),
    )


def zipf_slope_sql(
    group_col: str = "lang", top_n: int = 100, round_dp: int = 4
) -> str:
    """DuckDB twin of `zipf_slope` over the documents table."""
    return f"""
        WITH words AS (
            SELECT {group_col},
                   unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> x <> '')) AS w
            FROM documents
        ),
        wc AS (
            SELECT {group_col}, w, COUNT(*) AS cnt
            FROM words GROUP BY 1, 2
        ),
        ranked AS (
            SELECT {group_col}, cnt,
                   ROW_NUMBER() OVER (PARTITION BY {group_col}
                                      ORDER BY cnt DESC, w ASC) AS rank
            FROM wc
        )
        SELECT {group_col},
               CAST(COUNT(*) AS BIGINT) AS n_top,
               ROUND(regr_slope(ln(cnt), ln(rank)), {round_dp})
                   AS zipf_slope
        FROM ranked WHERE rank <= {top_n}
        GROUP BY {group_col}
    """


def source_diversity(
    docs: DataFrame, group_col: str = "source", round_dp: int = 6
) -> DataFrame:
    """Per-group lexical-diversity report — (group, n_docs,
    total_words, distinct_words, ttr, distinct_bigrams, bigram_ttr):
    type-token ratio at the word and bigram level ACROSS a source's
    documents. The inter-doc self-BLEU-style signal boilerplate
    mining and per-doc repetition can't give: a source whose docs are
    individually clean but collectively near-identical (templated
    spam, mirrored feeds) shows a collapsed corpus-level TTR long
    before pairwise dedup prices it, so this is the cheap first-pass
    triage over thousands of sources.

    Scale shape: one token explode (the corpus pass every corpus-stat
    query pays) → per-(group, gram) counts (combinable partials) →
    per-group COUNT/SUM — two keyed shuffles, no windows, no joins,
    no driver data. Bigrams ride the SAME explode via a zip_with of
    the token array against its tail, not a second tokenization.
    """
    toks = _token_arrays(docs, [group_col])
    grams = toks.select(
        group_col,
        F.explode(
            F.concat(
                # unigrams tagged 'w:', bigrams 'b:' — one explode
                # feeds both levels, disambiguated by prefix
                F.transform(
                    "toks", lambda x: F.concat(F.lit("w:"), x)
                ),
                F.zip_with(
                    F.slice(
                        "toks", 1,
                        F.greatest(F.size("toks") - 1, F.lit(0)),
                    ),
                    F.slice(
                        "toks", 2,
                        F.greatest(F.size("toks") - 1, F.lit(0)),
                    ),
                    lambda a, b: F.concat(
                        F.lit("b:"), a, F.lit(" "), b
                    ),
                ),
            )
        ).alias("g"),
    )
    per_gram = grams.groupBy(group_col, "g").agg(
        F.count("*").alias("cnt")
    )
    uni = F.col("g").startswith("w:")
    stats = per_gram.groupBy(group_col).agg(
        F.sum(F.when(uni, F.col("cnt"))).cast("bigint").alias("total_words"),
        F.count(F.when(uni, F.lit(1))).cast("bigint").alias("distinct_words"),
        F.count(F.when(~uni, F.lit(1))).cast("bigint").alias(
            "distinct_bigrams"
        ),
        F.sum(F.when(~uni, F.col("cnt"))).cast("bigint").alias("__tb"),
    )
    ndocs = docs.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        stats.join(ndocs, group_col)
        .select(
            group_col,
            "n_docs",
            "total_words",
            "distinct_words",
            F.round(
                F.col("distinct_words") / F.col("total_words"), round_dp
            ).alias("ttr"),
            "distinct_bigrams",
            F.round(
                F.col("distinct_bigrams")
                / F.greatest(F.col("__tb"), F.lit(1)),
                round_dp,
            ).alias("bigram_ttr"),
        )
    )


def source_diversity_sql(
    group_col: str = "source", round_dp: int = 6
) -> str:
    """DuckDB twin of `source_diversity` over the documents table."""
    return f"""
        WITH toks AS (
            SELECT doc_id, {group_col},
                   list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') AS w
            FROM documents
        ),
        grams AS (
            SELECT {group_col}, unnest(
                list_concat(
                    list_transform(w, x -> 'w:' || x),
                    list_transform(
                        generate_series(1, GREATEST(len(w) - 1, 0)),
                        i -> 'b:' || w[i] || ' ' || w[i + 1]
                    )
                )
            ) AS g
            FROM toks
        ),
        per_gram AS (
            SELECT {group_col}, g, COUNT(*) AS cnt
            FROM grams GROUP BY 1, 2
        ),
        stats AS (
            SELECT {group_col},
                   CAST(SUM(CASE WHEN g LIKE 'w:%' THEN cnt END)
                        AS BIGINT) AS total_words,
                   CAST(COUNT(CASE WHEN g LIKE 'w:%' THEN 1 END)
                        AS BIGINT) AS distinct_words,
                   CAST(COUNT(CASE WHEN g NOT LIKE 'w:%' THEN 1 END)
                        AS BIGINT) AS distinct_bigrams,
                   CAST(SUM(CASE WHEN g NOT LIKE 'w:%' THEN cnt END)
                        AS BIGINT) AS tb
            FROM per_gram GROUP BY 1
        ),
        nd AS (
            SELECT {group_col}, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1
        )
        SELECT s.{group_col}, n.n_docs, s.total_words, s.distinct_words,
               ROUND(s.distinct_words * 1.0 / s.total_words, {round_dp})
                   AS ttr,
               s.distinct_bigrams,
               ROUND(s.distinct_bigrams * 1.0 / GREATEST(s.tb, 1),
                     {round_dp}) AS bigram_ttr
        FROM stats s JOIN nd n USING ({group_col})
    """
