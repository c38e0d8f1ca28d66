"""Corpus-trained character-n-gram Naive Bayes language identification.

q50's stopword-marker language ID is a fixed heuristic: four European
languages, hand-picked markers, no zh coverage. This module is the
production variant that q50's docstring promises — the model is TRAINED
from the corpus's own labels (the same corpus-self-training recipe as
ngram_lm_score in operators/quality.py), covers any language present in
the training labels, and scores with smoothed log-likelihoods instead
of marker hit counts.

Spark shape, deliberately asymmetric:

- **Training** is a corpus aggregation: explode char n-grams, count per
  (lang, gram) with map-side combine on a uniform composite key, keep
  the top-K grams per language (TakeOrdered on the already-aggregated
  relation), and collect the model — a BOUNDED driver-side object
  (≤ langs × top_grams rows, a few KB).
- **Scoring** folds the collected model into ONE literal map expression:
  per row, aggregate the document's n-grams accumulating a per-language
  log-likelihood array, then argmax. Zero shuffles, zero joins, no
  Python — the classic "broadcast the tiny model" pattern taken one
  step further (the model rides inside the plan itself, so there is
  nothing to co-schedule at 100 TB; scoring is embarrassingly
  parallel).

Lookup cost: Catalyst evaluates ``element_at`` on a literal map by
LINEAR scan, so the model ships as an ARRAY of small map literals
bucketed by ``crc32(gram) % n_buckets`` (~8 entries per bucket; crc32
because Python's zlib computes the identical value driver-side when
assigning grams to buckets, unlike Spark's Murmur3). A gram lookup is
one O(1) array index + one ~8-entry map probe regardless of model size
— PROBE cost only. The literal model itself is still
O(languages x grams) doubles of PLAN TEXT (a thousand-language,
64-gram model is tens of MB of SQL), so the literal route is capped at
LANGID_LITERAL_MAX_CELLS score entries; classify_langs auto-routes
bigger models to a broadcast-join scoring path (score-equivalent to
~1e-9, one exchange — see classify_langs). The q92 gate's 5-language
model stays far below the ceiling, on the zero-shuffle literal route.

Smoothing: add-one over the restricted vocabulary. For language l with
total kept-gram count T_l over V kept grams, a kept gram g scores
log((c_{l,g} + 1) / (T_l + V + 1)) and any unseen gram scores the floor
log(1 / (T_l + V + 1)) — proper probabilities, and every language pays
the SAME per-gram floor shape so document length cancels in the argmax.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from entangledb_spark.operators.text import normalize_text
from entangledb_spark.session import local_df

N_GRAM = 3
TOP_GRAMS = 64  # kept grams per language


def char_ngram_expr(text: Column, n: int = N_GRAM) -> Column:
    """Array of overlapping character n-grams of the normalized text —
    one narrow expression (the winnowing gram recipe without the md5;
    the normalized string is let-bound so the per-element substr does
    not re-run the normalization regexp, see fingerprints._let)."""
    from entangledb_spark.operators.fingerprints import _let

    def with_text(s: Column) -> Column:
        n_grams = F.length(s) - F.lit(n - 1)
        return F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
                lambda i: s.substr(i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return _let(normalize_text(text), with_text)


def train_langid_model(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    n: int = N_GRAM,
    top_grams: int = TOP_GRAMS,
) -> dict:
    """Train the NB model; returns a plain-dict model:
    {"n", "langs": [...], "floors": [logp...], "grams": {gram: [logp...]}}.

    One corpus scan: explode grams → count per (lang, gram) — the
    composite key is uniform (no Zipf hazard: even 'the'-grade grams are
    split across languages and the count relation is already tiny) —
    then top-K per language and a bounded collect."""
    counts = (
        docs.filter(F.col(lang_col).isNotNull())  # unlabeled rows train nothing
        .select(F.col(lang_col).alias("lang"), char_ngram_expr(F.col(text_col), n).alias("g"))
        .select("lang", F.explode("g").alias("gram"))
        # normalize_text collapses only WHITESPACE; other control chars
        # (\x00-\x1f, \x7f) pass through and would land verbatim inside
        # the scoring map's SQL string literals — drop grams containing
        # any (they carry no language signal; scoring treats them as
        # unseen → floor, consistent on both sides)
        .filter(~F.col("gram").rlike(r"[\x00-\x1f\x7f]"))
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rows = (
        counts.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("gram"))
            ),
        )
        .filter(F.col("rk") <= top_grams)
        .select("lang", "gram", "c")
        .collect()
    )
    langs = sorted({r.lang for r in w_rows})
    if not langs:
        # An empty model would otherwise surface much later as an opaque
        # AnalysisException (empty map()/array() literals typed STRING
        # meet the DOUBLE accumulator in langid_score_expr).
        raise ValueError(
            f"train_langid_model: no labeled training rows — every row has "
            f"NULL {lang_col!r} (or no text survived gram extraction); "
            f"check the {lang_col!r} column"
        )
    by_lang = {l: {r.gram: r.c for r in w_rows if r.lang == l} for l in langs}
    totals = {l: sum(by_lang[l].values()) for l in langs}
    vocab = {l: len(by_lang[l]) for l in langs}
    floors = [
        math.log(1.0 / (totals[l] + vocab[l] + 1)) for l in langs
    ]
    grams: dict[str, list[float]] = {}
    for g in sorted({r.gram for r in w_rows}):
        grams[g] = [
            math.log(
                (by_lang[l].get(g, 0) + 1.0) / (totals[l] + vocab[l] + 1)
            )
            for l in langs
        ]
    return {"n": n, "langs": langs, "floors": floors, "grams": grams}


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_darr(xs) -> str:
    return "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in xs) + ")"


LANGID_BUCKET_TARGET = 8  # aimed-for grams per lookup bucket


def langid_score_expr(text: Column, model: dict) -> Column:
    """Per-language log-likelihood array for ``text`` under ``model`` —
    one narrow expression with the model as LITERAL maps (assembled as
    a SQL string: thousands of nested Column calls would cost seconds of
    driver round-trips per plan, the ivf_assign lesson).

    The maps are crc32-bucketed (module docstring): bucket assignment
    uses zlib.crc32 driver-side and F.crc32 executor-side, which compute
    the same standard CRC-32 over the utf-8 bytes, so a gram always
    probes the bucket it was placed in."""
    import zlib

    grams_sorted = sorted(model["grams"].items())
    n_buckets = max(1, (len(grams_sorted) + LANGID_BUCKET_TARGET - 1) // LANGID_BUCKET_TARGET)
    buckets: list[list] = [[] for _ in range(n_buckets)]
    for g, lps in grams_sorted:
        buckets[zlib.crc32(g.encode("utf-8")) % n_buckets].append((g, lps))
    bucket_sqls = []
    for b in buckets:
        if b:
            entries = ",".join(f"{_sql_str(g)},{_sql_darr(lps)}" for g, lps in b)
            bucket_sqls.append(f"map({entries})")
        else:
            bucket_sqls.append("cast(map() as map<string,array<double>>)")
    floors = _sql_darr(model["floors"])
    # the bulky literals (bucket array + floors) are each ONE F.expr; the
    # thin aggregation shell around them uses the Column HOF API
    bcol = F.expr("array(" + ",".join(bucket_sqls) + ")")
    floors_col = F.expr(floors)
    from entangledb_spark.operators.fingerprints import _let

    def lookup(g: Column) -> Column:
        idx = (F.pmod(F.crc32(F.encode(g, "utf-8")), F.lit(n_buckets)) + 1).cast("int")
        return F.element_at(F.element_at(bcol, idx), g)

    def with_grams(grams: Column) -> Column:
        return F.aggregate(
            grams,
            floors_col,
            lambda acc, g: F.zip_with(
                acc,
                F.coalesce(lookup(g), floors_col),
                lambda a, b: a + b,
            ),
        )

    return _let(char_ngram_expr(text, model["n"]), with_grams)


def langid_argmax_expr(text: Column, model: dict) -> Column:
    """Predicted language for ``text`` as ONE narrow expression — the
    argmax of langid_score_expr with ties to the alphabetically-first
    language (langs are sorted; array_position finds the first max).
    For composing the prediction into a wider projection/aggregation
    without classify_langs' fixed output schema."""
    from entangledb_spark.operators.fingerprints import _let

    langs_arr = F.array(*[F.lit(l) for l in model["langs"]])

    def with_scores(s: Column) -> Column:
        return F.element_at(langs_arr, F.array_position(s, F.array_max(s)).cast("int"))

    return _let(langid_score_expr(text, model), with_scores)


# Literal-route ceiling in SCORE CELLS (grams x languages): each cell is
# one ~20-char double literal, so 50k cells ~ 1 MB of plan text — past
# that, plan transfer/analysis cost grows linearly and Janino method
# limits loom. The default model (5 langs x 64 grams = 320 cells) is 150x
# below it; a 1000-language x 64-gram model (4M cells) auto-routes to the
# broadcast-join path.
LANGID_LITERAL_MAX_CELLS = 50_000


def _langid_scores_join_route(
    docs: DataFrame, model: dict, text_col: str, id_col: str
) -> DataFrame:
    """Broadcast-join scoring for models above LANGID_LITERAL_MAX_CELLS:
    explode the document's grams, broadcast-join the (gram -> logp array)
    model TABLE (data, not plan text), and fold per document:

        score_j = floors_j * (1 + n_unseen) + sum over seen grams lps_j

    exactly langid_score_expr's semantics (acc starts at floors; every
    gram adds its logps or the floors). Costs ONE exchange (the per-doc
    regroup) that the literal route avoids — the documented trade for
    unbounded model size. Score-equivalent to the literal route within
    float summation-order noise (~1e-9 abs, asserted in
    tests/test_langid.py::test_classify_langs_join_route_matches_literal);
    NOT bit-identical, so hash-gated queries (q92) must stay literal."""
    spark = docs.sparkSession
    model_df = local_df(
        spark,
        [(g, [float(x) for x in lps]) for g, lps in sorted(model["grams"].items())],
        "gram string, _lps array<double>",
    )
    floors = F.array(*[F.lit(float(x)) for x in model["floors"]])
    zeros = F.array(*[F.lit(0.0) for _ in model["floors"]])
    exploded = docs.select(
        F.col(id_col),
        F.explode_outer(char_ngram_expr(F.col(text_col), model["n"])).alias("gram"),
    )
    per_doc = (
        exploded.join(F.broadcast(model_df), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("gram").alias("_n"),
            F.count("_lps").alias("_n_seen"),
            F.collect_list("_lps").alias("_seen"),
        )
    )
    unseen_weight = F.lit(1).cast("double") + (F.col("_n") - F.col("_n_seen"))
    seen_sum = F.aggregate(
        F.col("_seen"), zeros, lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b)
    )
    scores = F.zip_with(
        F.transform(floors, lambda f: f * unseen_weight),
        seen_sum,
        lambda a, b: a + b,
    )
    return per_doc.select(F.col(id_col), scores.alias("scores"))


def classify_langs(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    route: str = "auto",
) -> DataFrame:
    """(id, scores per language, predicted_lang) for every document.

    ``route="literal"`` (default while grams x langs <=
    LANGID_LITERAL_MAX_CELLS): a pure narrow map with the model folded
    into the plan — zero shuffles. ``route="join"`` (auto above the
    ceiling): broadcast-join scoring (_langid_scores_join_route) — one
    exchange, unbounded model size. Ties break to the
    alphabetically-first language on both routes (array_position finds
    the first maximum; langs are sorted)."""
    if route == "auto":
        n_cells = len(model["grams"]) * len(model["langs"])
        route = "literal" if n_cells <= LANGID_LITERAL_MAX_CELLS else "join"
    langs_arr = F.array(*[F.lit(l) for l in model["langs"]])
    if route == "join":
        scored = _langid_scores_join_route(docs, model, text_col, id_col)
        return scored.select(
            F.col(id_col),
            "scores",
            F.element_at(
                langs_arr,
                F.array_position(F.col("scores"), F.array_max("scores")).cast("int"),
            ).alias("predicted_lang"),
        )
    scores = langid_score_expr(F.col(text_col), model)
    from entangledb_spark.operators.fingerprints import _let

    def with_scores(s: Column) -> Column:
        return F.struct(
            s.alias("scores"),
            F.element_at(
                langs_arr, F.array_position(s, F.array_max(s)).cast("int")
            ).alias("predicted_lang"),
        )

    # project the packed struct ONCE and unpack from the column alias in
    # a second select — referencing `packed` twice would embed the bulky
    # literal-map scoring expression twice in the plan (double the
    # parse/analyze cost the SQL-string assembly exists to avoid)
    return (
        docs.select(F.col(id_col), _let(scores, with_scores).alias("_p"))
        .select(
            F.col(id_col),
            F.col("_p.scores").alias("scores"),
            F.col("_p.predicted_lang").alias("predicted_lang"),
        )
    )
