"""Round-6 extension tier: corpus hygiene plus the operational verbs
around it, all as pure DataFrame plans.

Corpus hygiene (the cross-document cleanup a 100 TB pre-training
pipeline runs AFTER per-document filters and BEFORE tokenization):
C4-style cross-corpus segment dedup, exact duplicated substring-span
removal (Lee et al. 2021), URL canonicalization dedup, Gopher
repetition diagnostics, CCNet-style perplexity filtering, a hashed
linear quality classifier, digest-blocked incremental dedup vs a
historical corpus, Poisson-bootstrap uncertainty, and the
`corpus_prepare_v2` capstone chaining the gate -> line dedup ->
substring dedup -> exact dedup -> split census end to end.

Operational/temporal verbs: SCD2 history, binned big-big interval
join, incremental-vs-full maintenance proof, TVD distribution-drift
monitor, half-life decayed counters, schema-evolution scan,
gaps-and-islands streaks, SymSpell fuzzy join, exact normal-equations
OLS, and ColBERT-style MaxSim retrieval.

Shared design invariants: every blocking step is an equi-join on a
derived key; every float that would be summed across rows is floored
onto an integer grid FIRST (order-independent exact totals); rebuilt
text is pinned by an order-independent md5 checksum; no Python on the
row path. The document fixtures are flat space-separated token streams
(no newlines), so "line" granularity is a fixed 10-token segment — the
same plans apply verbatim to newline-split text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chess_ratings_spark import staging, tables
from chess_ratings_spark.registry import register

# Order-independent corpus checksum: each doc's rebuilt text hashes to a
# 32-bit int (md5 prefix), summed per group — commutative, so the value
# is stable under any shuffle/partition layout while still pinning every
# byte of every rebuilt document.
def _text_checksum(col: str) -> F.Column:
    return (
        F.sum(
            F.conv(F.substring(F.md5(F.coalesce(F.col(col), F.lit(""))), 1, 8), 16, 10).cast(
                "bigint"
            )
        )
    ).cast("bigint")


_SEG_W = 10  # tokens per pseudo-line segment


@register(
    "dedup_lines_corpus",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), segs AS (
      SELECT doc_id, source, u.i AS seg_idx,
             array_to_string(t[u.i*10+1 : u.i*10+10], ' ') AS seg
      FROM base, LATERAL (
        SELECT unnest(range(0, CAST(ceil(len(t) / 10.0) AS INT))) AS i
      ) AS u
    ), ranked AS (
      SELECT doc_id, source, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    ), rebuilt AS (
      SELECT doc_id, any_value(source) AS source,
             count(*) AS n_seg,
             count(*) FILTER (rn = 1) AS n_kept,
             string_agg(seg, ' ' ORDER BY seg_idx) FILTER (rn = 1) AS new_text
      FROM ranked GROUP BY doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (n_kept < n_seg) AS BIGINT) AS n_docs_pruned,
           CAST(sum(n_seg) AS BIGINT) AS n_seg_total,
           CAST(sum(n_kept) AS BIGINT) AS n_seg_kept,
           CAST(sum(('0x' || substr(md5(coalesce(new_text, '')), 1, 8))::UBIGINT)
                AS BIGINT) AS text_checksum
    FROM rebuilt GROUP BY source ORDER BY source
    """,
    doc="C4-style cross-document line dedup (Raffel et al. 2020 §2.2 "
    "'we discarded all but one of any three-sentence span occurring "
    "more than once'), at 10-token segment granularity: segment the "
    "corpus, keep only the globally-first occurrence of each distinct "
    "segment (min(struct(doc_id, seg_idx)) per segment — a map-side-"
    "combinable agg keyed on the segment, skew-immune on hot "
    "boilerplate lines where a window would funnel one partition), "
    "rebuild "
    "every document from its surviving segments, and report per-source "
    "census + an order-independent md5 checksum over every rebuilt "
    "text. Scale shape: the only wide exchange is the segment-key "
    "shuffle, whose cardinality is n_tokens/10; rebuild is a doc_id "
    "groupBy with sort_array(collect_list(struct)) — bounded by doc "
    "length, never by corpus size. The oracle replays it verbatim.",
    tags=("corpus", "dedup", "documents"),
)
def dedup_lines_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(toks) / F.lit(float(_SEG_W))).cast("int")
    segs = d.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * _SEG_W + 1, _SEG_W)),
            )
        ).alias("seg_idx", "seg"),
    )
    # keep-first via min(struct(doc_id, seg_idx)) per segment, NOT a
    # row_number window: the min-agg partially aggregates map-side, so a
    # hot segment (boilerplate line repeated 10^8 times) costs one
    # combiner cell per map task instead of forcing its every occurrence
    # through a single window partition — the skew-immune form of the
    # same keep rule (the SQL oracle states it as the rn=1 window, which
    # is the identical relation).
    mins = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("first_occ")
    )
    flagged = segs.join(mins, "seg").withColumn(
        "is_first",
        (F.col("doc_id") == F.col("first_occ.doc_id"))
        & (F.col("seg_idx") == F.col("first_occ.seg_idx")),
    )
    rebuilt = flagged.groupBy("doc_id").agg(
        F.any_value(F.col("source")).alias("source"),
        F.count(F.lit(1)).alias("n_seg"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("is_first"), F.struct("seg_idx", "seg"))
                    )
                ),
                lambda s: s["seg"],
            ),
        ).alias("new_text"),
    )
    return (
        rebuilt.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_kept") < F.col("n_seg"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_pruned"),
            F.sum("n_seg").cast("bigint").alias("n_seg_total"),
            F.sum("n_kept").cast("bigint").alias("n_seg_kept"),
            _text_checksum("new_text").alias("text_checksum"),
        )
        .orderBy("source")
    )


_SPAN_K = 8  # tokens per duplicated-substring window


@register(
    "dedup_substring_spans",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), wins AS (
      SELECT doc_id, u.i AS wstart,
             md5(array_to_string(t[u.i+1 : u.i+8], ' ')) AS h
      FROM base, LATERAL (
        SELECT unnest(range(0, greatest(len(t) - 7, 0))) AS i
      ) AS u
    ), dups AS (
      SELECT h FROM wins GROUP BY h HAVING count(*) >= 2
    ), covered AS (
      SELECT DISTINCT w.doc_id, w.wstart + v.off AS pos
      FROM wins w JOIN dups USING (h),
           LATERAL (SELECT unnest(range(0, 8)) AS off) AS v
    ), toks AS (
      SELECT doc_id, source, u.j AS pos, t[u.j + 1] AS tok, len(t) AS n_tok
      FROM base, LATERAL (SELECT unnest(range(0, len(t))) AS j) AS u
    ), flagged AS (
      SELECT k.doc_id, k.source, k.pos, k.tok, k.n_tok,
             c.pos IS NOT NULL AS cov
      FROM toks k LEFT JOIN covered c
        ON k.doc_id = c.doc_id AND k.pos = c.pos
    ), rebuilt AS (
      SELECT doc_id, any_value(source) AS source, count(*) AS n_before,
             count(*) FILTER (NOT cov) AS n_after,
             coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (NOT cov), '')
               AS new_text
      FROM flagged GROUP BY doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (n_after < n_before) AS BIGINT) AS n_docs_affected,
           CAST(sum(n_before) AS BIGINT) AS tokens_before,
           CAST(sum(n_before - n_after) AS BIGINT) AS tokens_removed,
           CAST(sum(('0x' || substr(md5(new_text), 1, 8))::UBIGINT) AS BIGINT)
             AS text_checksum
    FROM rebuilt GROUP BY source ORDER BY source
    """,
    doc="Exact duplicated-substring removal (Lee et al. 2021, ExactSubstr: "
    "drop every corpus position covered by a k-token span that occurs "
    ">=2 times anywhere), k=8, re-expressed without suffix arrays as "
    "three equi-joins: (1) rolling k-token window hashes (linear "
    "explode, ~n_tokens rows), (2) duplicate hashes = groupBy(h) "
    "HAVING count>=2 — map-side-combinable, and the join back is an "
    "equi-join on the hash so hot spans cost their own frequency, not "
    "a cross product, (3) covered positions = window-start explode x k "
    "then DISTINCT, anti-joined against the token-position table and "
    "documents rebuilt from survivors. Census + order-independent md5 "
    "checksum per source; the oracle replays every step including "
    "rebuilt-text bytes.",
    tags=("corpus", "dedup", "documents"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id", "source", toks.alias("t"), F.size(toks).alias("n_tok")
    )
    starts = F.when(
        F.col("n_tok") >= _SPAN_K, F.sequence(F.lit(0), F.col("n_tok") - _SPAN_K)
    ).otherwise(F.array().cast("array<int>"))
    # wins (one md5 per k-token window over the corpus) feeds the
    # duplicate-hash census AND the coverage join: checkpoint so the
    # explode+hash pass runs once, not twice (guide §3.3)
    wins = (
        base.select(
            "doc_id",
            F.explode(starts).alias("wstart"),
            F.col("t"),
        )
        .select(
            "doc_id",
            "wstart",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("t"), F.col("wstart") + 1, _SPAN_K))
            ).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    dups = wins.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 2)
    covered = (
        wins.join(dups.select("h"), "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("wstart"), F.col("wstart") + (_SPAN_K - 1))
            ).alias("pos"),
        )
        .distinct()
        .withColumn("cov", F.lit(1))
    )
    tokpos = base.select(
        "doc_id", "source", "n_tok", F.posexplode("t").alias("pos", "tok")
    )
    flagged = tokpos.join(covered, ["doc_id", "pos"], "left")
    keep = F.col("cov").isNull()
    rebuilt = flagged.groupBy("doc_id").agg(
        F.any_value(F.col("source")).alias("source"),
        F.count(F.lit(1)).alias("n_before"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_after"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.when(keep, F.struct("pos", "tok")))),
                lambda s: s["tok"],
            ),
        ).alias("new_text"),
    )
    return (
        rebuilt.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_after") < F.col("n_before"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_affected"),
            F.sum("n_before").cast("bigint").alias("tokens_before"),
            F.sum(F.col("n_before") - F.col("n_after"))
            .cast("bigint")
            .alias("tokens_removed"),
            _text_checksum("new_text").alias("text_checksum"),
        )
        .orderBy("source")
    )


@register(
    "text_repetition_stats",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), m AS (
      SELECT doc_id, source,
             CAST(ceil(len(t) / 10.0) AS INT) AS n_seg,
             len(list_distinct([array_to_string(t[i*10+1 : i*10+10], ' ')
                  FOR i IN range(0, CAST(ceil(len(t) / 10.0) AS INT))]))
               AS n_seg_distinct,
             len(t) - 1 AS n2,
             len(list_distinct([array_to_string(t[i : i+1], ' ')
                  FOR i IN range(1, len(t))])) AS d2,
             (SELECT max(c) FROM (
                SELECT count(*) AS c
                FROM unnest([array_to_string(t[i : i+1], ' ')
                             FOR i IN range(1, len(t))]) AS g(x)
                GROUP BY x)) AS top2,
             len(t) - 2 AS n3,
             (SELECT max(c) FROM (
                SELECT count(*) AS c
                FROM unnest([array_to_string(t[i : i+2], ' ')
                             FOR i IN range(1, len(t) - 1)]) AS g(x)
                GROUP BY x)) AS top3
      FROM base
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (n_seg_distinct < n_seg) AS BIGINT)
             AS n_dup_seg_docs,
           CAST(count(*) FILTER (top2 * 16 > n2) AS BIGINT) AS n_top2_viol,
           CAST(count(*) FILTER (top3 * 25 > n3) AS BIGINT) AS n_top3_viol,
           CAST(sum(top2) AS BIGINT) AS sum_top2,
           CAST(sum(top3) AS BIGINT) AS sum_top3,
           CAST(sum(n2 - d2) AS BIGINT) AS sum_rep2
    FROM m GROUP BY source ORDER BY source
    """,
    doc="Gopher repetition diagnostics (Rae et al. 2021 §A1.1: duplicate "
    "line fraction, top n-gram fraction, duplicate n-gram fraction) as "
    "one scan of pure array expressions — per doc: duplicate 10-token "
    "segments (the 'duplicate lines' analogue), top-2-gram and "
    "top-3-gram occupancy with integer-ratio thresholds (top2/n2 > "
    "1/16, top3/n3 > 1/25 — integer cross-multiplication, so the "
    "threshold compare is exact and engine-portable, never a float "
    "division), and repeated-2-gram mass (n2 - distinct2). Outputs are "
    "all integer counts/sums per source — no float reduction anywhere, "
    "so the driver hash compare is bit-trivial. Per-doc cost is "
    "O(words x distinct n-grams) inside codegen; no shuffle at all "
    "until the final per-source agg.",
    tags=("corpus", "text", "documents"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    n = F.size(t)

    from chess_ratings_spark.operators.text import sliding_concat

    def ngrams(width: int) -> F.Column:
        return sliding_concat(t, width)

    from chess_ratings_spark.operators.text import max_multiplicity as top_count

    n_seg = F.ceil(n / F.lit(10.0)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(" ", F.slice(t, i * 10 + 1, 10)),
    )
    g2, g3 = ngrams(2), ngrams(3)
    m = d.select(
        "source",
        n_seg.alias("n_seg"),
        F.size(F.array_distinct(segs)).alias("n_seg_distinct"),
        (n - 1).alias("n2"),
        F.size(F.array_distinct(g2)).alias("d2"),
        top_count(g2).alias("top2"),
        (n - 2).alias("n3"),
        top_count(g3).alias("top3"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_seg_distinct") < F.col("n_seg"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_seg_docs"),
            F.sum(F.when(F.col("top2") * 16 > F.col("n2"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_top2_viol"),
            F.sum(F.when(F.col("top3") * 25 > F.col("n3"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_top3_viol"),
            F.sum("top2").cast("bigint").alias("sum_top2"),
            F.sum("top3").cast("bigint").alias("sum_top3"),
            F.sum(F.col("n2") - F.col("d2")).cast("bigint").alias("sum_rep2"),
        )
        .orderBy("source")
    )


@register(
    "scd2_history",
    oracle="""
    WITH feed AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 100) AS BIGINT) AS value_centi
      FROM events WHERE user_id % 41 = 0
    ), v AS (
      SELECT user_id, value_centi,
             row_number() OVER w AS version,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
             strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
             lead(ts) OVER w IS NULL AS is_current
      FROM feed
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, valid_from, valid_to,
           is_current, value_centi
    FROM v ORDER BY user_id, version
    """,
    doc="Slowly-changing-dimension type-2 build from a change feed "
    "(Kimball SCD2: every attribute change closes the previous version "
    "and opens a new one): per key, versions ordered by (ts, event_id "
    "— the unique tiebreak that makes the history deterministic under "
    "same-second updates), valid_from/valid_to as adjacent-event "
    "boundaries via lead(), open-ended current row flagged. One window "
    "over the key partition — the exact shape that scales: building "
    "SCD2 for 10^9 keys is one shuffle on the key, no self-join, no "
    "driver state; appending a new day of changes re-windows only the "
    "affected keys' partitions. Returned for a bounded key subset "
    "(user_id % 41 = 0) with full row values checked. The attribute "
    "value is emitted as floor(value*100) centi-units (BIGINT) on both "
    "sides — the repo's fixed-point convention that excludes "
    "Spark-vs-DuckDB round() halfway-representation disagreement.",
    tags=("lakehouse", "window", "events"),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    feed = ev.filter(F.col("user_id") % 41 == 0).select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100).cast("bigint").alias("value_centi"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss"
    nxt = F.lead("ts").over(w)
    return (
        feed.select(
            "user_id",
            F.row_number().over(w).cast("bigint").alias("version"),
            F.date_format("ts", fmt).alias("valid_from"),
            F.date_format(nxt, fmt).alias("valid_to"),
            nxt.isNull().alias("is_current"),
            "value_centi",
        )
        .orderBy("user_id", "version")
    )


@register(
    "mm_scalar_quantize",
    oracle="""
    WITH el AS (
      SELECT u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS v
      FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i) AS u
    ), st AS (
      SELECT i, min(v) AS mn, max(v) AS mx FROM el GROUP BY i
    ), arrs AS (
      SELECT list(mn ORDER BY i) AS mn_a, list(mx ORDER BY i) AS mx_a FROM st
    ), enc AS (
      SELECT e.label,
        list_sum([CASE WHEN mx_a[i] > mn_a[i]
           THEN CAST(floor((CAST(embedding[i] AS DOUBLE) - mn_a[i])
                           / (mx_a[i] - mn_a[i]) * 255.0 + 0.5) AS BIGINT)
           ELSE 0 END FOR i IN range(1, 65)]) AS code_sum,
        list_sum([
          (CAST(embedding[i] AS DOUBLE)
           - (CASE WHEN mx_a[i] > mn_a[i]
                THEN mn_a[i]
                     + CAST(floor((CAST(embedding[i] AS DOUBLE) - mn_a[i])
                                  / (mx_a[i] - mn_a[i]) * 255.0 + 0.5) AS BIGINT)
                       / 255.0 * (mx_a[i] - mn_a[i])
                ELSE mn_a[i] END))
          * (CAST(embedding[i] AS DOUBLE)
             - (CASE WHEN mx_a[i] > mn_a[i]
                  THEN mn_a[i]
                       + CAST(floor((CAST(embedding[i] AS DOUBLE) - mn_a[i])
                                    / (mx_a[i] - mn_a[i]) * 255.0 + 0.5) AS BIGINT)
                         / 255.0 * (mx_a[i] - mn_a[i])
                  ELSE mn_a[i] END))
          FOR i IN range(1, 65)]) AS err
      FROM embeddings e, arrs
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(code_sum) AS BIGINT) AS sum_codes,
           CAST(sum(CAST(floor(err * 1e9) AS BIGINT)) AS BIGINT) AS sum_err_e9
    FROM enc GROUP BY label ORDER BY label
    """,
    doc="Int8 scalar quantization of the embedding column (the faiss "
    "SQ8 layout: per-dimension min/max affine map to a 0..255 code, "
    "4x compression before ANN): pass 1 computes per-dim min/max — a "
    "posexplode + groupBy(dim), map-side combinable, 64 rows out "
    "regardless of corpus size; pass 2 broadcasts the 64-entry "
    "codebook row and encodes every vector with pure array "
    "expressions (no UDF). Rounding is floor(x + 0.5), never round() "
    "— identical halfway behavior in every engine. Reported per "
    "label: code-mass and reconstruction-error checksums as exact "
    "integers (err scaled by 1e9 and floored per vector BEFORE the "
    "sum, so the group total is order-independent — the discipline "
    "this repo uses everywhere float sums would otherwise depend on "
    "reduction order). The oracle replays codebook, encode, decode "
    "and error bit-for-bit.",
    tags=("multimodal", "similarity", "embeddings"),
)
def mm_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "embeddings")
    el = e.select(F.posexplode("embedding").alias("p", "vf")).select(
        (F.col("p") + 1).alias("i"), F.col("vf").cast("double").alias("v")
    )
    st = el.groupBy("i").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    arrs = st.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "mn"))), lambda s: s["mn"]
        ).alias("mn_a"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "mx"))), lambda s: s["mx"]
        ).alias("mx_a"),
    )
    j = e.crossJoin(F.broadcast(arrs))

    def vd(i):
        return F.element_at("embedding", i).cast("double")

    def mn(i):
        return F.element_at("mn_a", i)

    def mx(i):
        return F.element_at("mx_a", i)

    def code(i):
        return F.when(
            mx(i) > mn(i),
            F.floor((vd(i) - mn(i)) / (mx(i) - mn(i)) * 255.0 + 0.5).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))

    def recon(i):
        return F.when(
            mx(i) > mn(i), mn(i) + code(i) / 255.0 * (mx(i) - mn(i))
        ).otherwise(mn(i))

    idx = F.sequence(F.lit(1), F.lit(64))
    code_sum = F.aggregate(
        F.transform(idx, code), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    err = F.aggregate(
        F.transform(idx, lambda i: (vd(i) - recon(i)) * (vd(i) - recon(i))),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    enc = j.select("label", code_sum.alias("code_sum"), err.alias("err"))
    return (
        enc.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("code_sum").cast("bigint").alias("sum_codes"),
            F.sum(F.floor(F.col("err") * 1e9).cast("bigint"))
            .cast("bigint")
            .alias("sum_err_e9"),
        )
        .orderBy("label")
    )


@register(
    "quality_classifier_score",
    oracle="""
    WITH scored AS (
      SELECT source,
             -256 + list_sum([
               (CAST(('0x' || substr(md5(w), 1, 8))::UBIGINT % 64 AS BIGINT)
                  * 2654435761 % 97 - 48)
               FOR w IN string_split(text, ' ')]) AS millis
      FROM documents
    )
    SELECT source,
           CAST(floor(millis / 1024.0) AS BIGINT) AS logit_floor,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(millis) AS BIGINT) AS sum_millis,
           CAST(min(millis) AS BIGINT) AS min_millis,
           CAST(max(millis) AS BIGINT) AS max_millis
    FROM scored GROUP BY source, logit_floor
    ORDER BY source, logit_floor
    """,
    doc="fastText-shaped linear quality classifier applied at corpus "
    "scale as pure column expressions: each token hashes to one of 64 "
    "feature buckets (engine-portable md5-prefix bucket — the same "
    "bridge operators/maintenance.hash_bucket uses), each bucket "
    "carries a fixed literal weight derived by a Knuth multiplicative "
    "mix ((b * 2654435761) % 97 - 48, i.e. an integer in [-48, 48]), "
    "and a document's logit is bias + sum(weights)/1024. ALL "
    "arithmetic is integer 1/1024ths ('millis') end-to-end, so the "
    "score is exact, order-independent, and bit-identical in any "
    "engine — the way to make model-score reproducibility auditable "
    "at 100 TB (a float dot product would depend on reduction order). "
    "One scan, no shuffle before the final group; real classifier "
    "weights would arrive as a broadcast literal array the same way. "
    "Output: per (source, floor(logit)) histogram with exact "
    "mass/min/max checks.",
    tags=("corpus", "text", "documents"),
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.operators.maintenance import hash_bucket

    d = tables.load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    w_of = lambda w: hash_bucket(w, 64) * F.lit(2654435761) % 97 - 48
    millis = F.lit(-256).cast("bigint") + F.aggregate(
        F.transform(toks, w_of), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    scored = d.select("source", millis.alias("millis"))
    return (
        scored.groupBy(
            "source",
            F.floor(F.col("millis") / 1024.0).cast("bigint").alias("logit_floor"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("millis").cast("bigint").alias("sum_millis"),
            F.min("millis").cast("bigint").alias("min_millis"),
            F.max("millis").cast("bigint").alias("max_millis"),
        )
        .orderBy("source", "logit_floor")
    )


@register(
    "join_interval_binned",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey AS iv_id,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS start_day,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' + 14 AS end_day
      FROM orders WHERE o_orderkey % 997 = 0
    )
    SELECT iv.iv_id,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
    FROM iv JOIN lineitem l
      ON (CAST(l.l_shipdate AS DATE) - DATE '1970-01-01') >= iv.start_day
     AND (CAST(l.l_shipdate AS DATE) - DATE '1970-01-01') < iv.end_day
    GROUP BY iv.iv_id ORDER BY iv.iv_id
    """,
    doc="Big-big interval containment join via bin blocking — the scale "
    "path for range joins that join_theta_range's broadcast-NLJ shape "
    "cannot take when BOTH sides are large: each 14-day interval is "
    "exploded to the 7-day bins it overlaps (<=3 rows), each probe "
    "timestamp maps to exactly ONE bin, and the join becomes an "
    "EQUI-join on bin id followed by the exact range predicate — no "
    "nested loop, no cross product, and no dedup step needed because "
    "a probe's single bin meets each interval at most once. Bin width "
    "~ interval length keeps the replication factor ~2-3x; skewed "
    "probe density degrades to an ordinary skewed equi-join (AQE/salt "
    "territory), never to O(n x m). Oracle is the naive range join.",
    tags=("join", "scale"),
)
def join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    _BIN = 7
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    epoch = F.to_date(F.lit("1970-01-01"))
    start = F.datediff(F.to_date("o_orderdate"), epoch)
    iv = o.filter(F.col("o_orderkey") % 997 == 0).select(
        F.col("o_orderkey").alias("iv_id"),
        start.alias("start_day"),
        (start + 14).alias("end_day"),
    )
    iv_binned = iv.select(
        "iv_id",
        "start_day",
        "end_day",
        F.explode(
            F.sequence(
                F.floor(F.col("start_day") / _BIN),
                F.floor((F.col("end_day") - 1) / _BIN),
            )
        ).alias("bin"),
    )
    probe = li.select(
        F.datediff(F.to_date("l_shipdate"), epoch).alias("ship_day"),
        "l_quantity",
    ).withColumn("bin", F.floor(F.col("ship_day") / _BIN))
    j = probe.join(iv_binned, "bin").filter(
        (F.col("ship_day") >= F.col("start_day"))
        & (F.col("ship_day") < F.col("end_day"))
    )
    return (
        j.groupBy("iv_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        )
        .orderBy("iv_id")
    )


@register(
    "pipeline_incremental",
    oracle="""
    WITH batch AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(floor(value * 1000) AS BIGINT)) AS vm
      FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
      GROUP BY event_type
    ), delta AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(floor(value * 1000) AS BIGINT)) AS vm
      FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
      GROUP BY event_type
    ), merged AS (
      SELECT coalesce(b.event_type, d.event_type) AS event_type,
             coalesce(b.n, 0) + coalesce(d.n, 0) AS n,
             coalesce(b.vm, 0) + coalesce(d.vm, 0) AS vm
      FROM batch b FULL OUTER JOIN delta d ON b.event_type = d.event_type
    ), full_agg AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(floor(value * 1000) AS BIGINT)) AS vm
      FROM events GROUP BY event_type
    )
    SELECT m.event_type,
           CAST(m.n AS BIGINT) AS n_merged,
           CAST(f.n AS BIGINT) AS n_full,
           m.n = f.n AS count_consistent,
           CAST(m.vm AS BIGINT) AS vm_merged,
           CAST(f.vm AS BIGINT) AS vm_full,
           m.vm = f.vm AS value_consistent
    FROM merged m JOIN full_agg f ON m.event_type = f.event_type
    ORDER BY m.event_type
    """,
    doc="Incremental-view-maintenance proof — the bookmark pattern every "
    "incremental 100 TB pipeline rests on: a high-watermark cutoff "
    "splits the feed into an already-processed batch and a late delta; "
    "each side computes PARTIAL aggregates (count + exact fixed-point "
    "value mass — floor(value*1000) per row before summing, so the "
    "merge is integer arithmetic with no float-order dependence); the "
    "merge is a full-outer combine on the group key. The query emits "
    "merged-vs-full-recompute side by side with equality flags — the "
    "invariant (merge(partials) == recompute(all)) that lets a daily "
    "pipeline process only the new partition instead of re-scanning "
    "the lake. Scale shape: in production the batch side is a tiny "
    "stored summary, the delta side scans one partition — this plan's "
    "cost is the delta scan alone.",
    tags=("lakehouse", "events", "streaming-adjacent"),
)
def pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    vm_row = F.floor(F.col("value") * 1000).cast("bigint")

    def part(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum(vm_row).alias("vm")
        )

    batch = part(ev.filter(F.col("ts") < cutoff))
    delta = part(ev.filter(F.col("ts") >= cutoff))
    b, d = batch.alias("b"), delta.alias("d")
    merged = b.join(
        d, F.col("b.event_type") == F.col("d.event_type"), "full_outer"
    ).select(
        F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias("event_type"),
        (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))).alias(
            "n"
        ),
        (
            F.coalesce(F.col("b.vm"), F.lit(0)) + F.coalesce(F.col("d.vm"), F.lit(0))
        ).alias("vm"),
    )
    full_agg = part(ev)
    m, f = merged.alias("m"), full_agg.alias("f")
    return (
        m.join(f, F.col("m.event_type") == F.col("f.event_type"))
        .select(
            F.col("m.event_type").alias("event_type"),
            F.col("m.n").cast("bigint").alias("n_merged"),
            F.col("f.n").cast("bigint").alias("n_full"),
            (F.col("m.n") == F.col("f.n")).alias("count_consistent"),
            F.col("m.vm").cast("bigint").alias("vm_merged"),
            F.col("f.vm").cast("bigint").alias("vm_full"),
            (F.col("m.vm") == F.col("f.vm")).alias("value_consistent"),
        )
        .orderBy("event_type")
    )


@register(
    "text_perplexity_filter",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, source, array_to_string(t[u.i : u.i+1], ' ') AS bg
      FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i) AS u
    ), model AS (
      SELECT bg, count(*) AS c FROM bg GROUP BY bg
    ), tot AS (
      SELECT count(*) AS n FROM bg
    ), scored AS (
      SELECT b.doc_id, any_value(b.source) AS source, count(*) AS n_bg,
             sum(CAST(floor(ln(m.c * 1.0 / t.n) * 1000000) AS BIGINT)) AS nll_e6
      FROM bg b JOIN model m USING (bg), tot t
      GROUP BY b.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nll_e6) AS BIGINT) AS sum_nll_e6,
           CAST(sum(n_bg) AS BIGINT) AS sum_bigrams,
           CAST(count(*) FILTER (nll_e6 < -6800000 * n_bg) AS BIGINT)
             AS n_flagged
    FROM scored GROUP BY source ORDER BY source
    """,
    doc="CCNet-style perplexity filtering (Wenzek et al. 2020: score "
    "each document under a language model; outliers are boilerplate / "
    "gibberish candidates), with the LM as a word-bigram MLE fit on "
    "the corpus itself: pass 1 builds the bigram count model (one "
    "groupBy — map-side combinable), pass 2 equi-joins every document "
    "bigram occurrence against the model and folds per-occurrence "
    "log-probs. Determinism discipline: each occurrence contributes "
    "floor(ln(p)*1e6) — an INTEGER per distinct bigram — so per-doc "
    "and per-source totals are exact integer sums, order-independent; "
    "the flag threshold (mean log-prob < -6.8) is the integer "
    "cross-multiplication nll_e6 < -6800000*n_bg, never a float "
    "division. At 100 TB the model side is the vocabulary-squared "
    "long tail — kept as a shuffle equi-join (NOT broadcast); a "
    "production variant would prune the model to top-K bigrams + an "
    "UNK floor, which only changes the model CTE.",
    tags=("corpus", "text", "documents"),
)
def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    n = F.size(t)
    from chess_ratings_spark.operators.text import sliding_concat

    # sliding_concat (shifted-slice zip_with fold), NOT transform+slice:
    # the per-position re-slice form measured 6x slower at sf0.1, and
    # this subtree is evaluated on all three branches (probe/model/total)
    bg = d.select(
        "doc_id",
        "source",
        F.explode(sliding_concat(t, 2)).alias("bg"),
    )
    model = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    # scalar total: a ONE-row broadcast cross — the single legitimate
    # BroadcastNestedLoopJoin shape (cost O(n) x 1); a constant-key
    # equi-join folds back to the same plan anyway
    tot = bg.agg(F.count(F.lit(1)).alias("n"))
    lp = F.floor(F.log(F.col("c") * F.lit(1.0) / F.col("n")) * 1000000).cast("bigint")
    scored = (
        bg.join(model, "bg")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("source")).alias("source"),
            F.count(F.lit(1)).alias("n_bg"),
            F.sum(lp).alias("nll_e6"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nll_e6").cast("bigint").alias("sum_nll_e6"),
            F.sum("n_bg").cast("bigint").alias("sum_bigrams"),
            F.sum(
                F.when(F.col("nll_e6") < F.lit(-6800000) * F.col("n_bg"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


@register(
    "dedup_url_canonical",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
             || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
             || 'Example' || CAST(doc_id % 5 AS VARCHAR) || '.com/page/'
             || CAST(doc_id % 250 AS VARCHAR)
             || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 11 = 0 THEN '?utm_source=feed&ref=rss'
                 ELSE '' END) AS url
      FROM documents
    ), canon AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(url), '^https?://', ''), '^www\\.', ''), '\\?.*$', ''),
               '/$', '') AS canonical
      FROM urls
    ), grouped AS (
      SELECT canonical, regexp_extract(canonical, '^([^/]+)', 1) AS host,
             count(*) AS n_variants, min(doc_id) AS keeper
      FROM canon GROUP BY canonical
    )
    SELECT host,
           CAST(sum(n_variants) AS BIGINT) AS n_urls,
           CAST(count(*) AS BIGINT) AS n_canonical,
           CAST(sum(n_variants) - count(*) AS BIGINT) AS n_dropped,
           CAST(sum(keeper) AS BIGINT) AS keeper_id_sum,
           CAST(sum(('0x' || substr(md5(canonical), 1, 8))::UBIGINT) AS BIGINT)
             AS canonical_checksum
    FROM grouped GROUP BY host ORDER BY host
    """,
    doc="URL canonicalization + dedup — the crawl-side dedup every web "
    "corpus runs BEFORE content dedup (CommonCrawl-style: the same "
    "page arrives under http/https, with/without www., trailing "
    "slash, and tracking params): canonical form = lowercase, scheme "
    "stripped, www. stripped, query string stripped, trailing slash "
    "stripped — a regexp_replace chain identical in both engines — "
    "then keep the smallest doc_id per canonical URL. The fixture has "
    "no URL column, so dirty variants are GENERATED deterministically "
    "from doc_id (every noise axis exercised: 2 schemes x www x slash "
    "x params, collapsing 2:1 onto 250 pages x 5 hosts); the operator "
    "itself — canonicalize, group, keep-first — is exactly the "
    "production plan: one shuffle on the canonical key, no Python. "
    "Per-host census with keeper-id and canonical-text checksums.",
    tags=("corpus", "dedup", "documents"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("Example"),
        (did % 5).cast("string"),
        F.lit(".com/page/"),
        (did % 250).cast("string"),
        F.when(did % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit("?utm_source=feed&ref=rss")).otherwise(F.lit("")),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "^https?://", ""), r"^www\.", ""
            ),
            r"\?.*$",
            "",
        ),
        "/$",
        "",
    )
    canon = d.select("doc_id", canonical.alias("canonical"))
    grouped = canon.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("n_variants"), F.min("doc_id").alias("keeper")
    )
    return (
        grouped.groupBy(
            F.regexp_extract("canonical", "^([^/]+)", 1).alias("host")
        )
        .agg(
            F.sum("n_variants").cast("bigint").alias("n_urls"),
            F.count(F.lit(1)).alias("n_canonical"),
            (F.sum("n_variants") - F.count(F.lit(1))).cast("bigint").alias("n_dropped"),
            F.sum("keeper").cast("bigint").alias("keeper_id_sum"),
            F.sum(
                F.conv(F.substring(F.md5("canonical"), 1, 8), 16, 10).cast("bigint")
            )
            .cast("bigint")
            .alias("canonical_checksum"),
        )
        .orderBy("host")
    )


#: 10 power iterations unrolled as chained CTEs — recursive CTEs cannot
#: aggregate over the recursive reference, and an unrolled chain states
#: the same integer arithmetic the Spark loop runs, term for term.
_PAGERANK_ORACLE = """WITH edges AS (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), deg AS (
      SELECT src, count(*) AS d FROM edges GROUP BY src
    ), pr0 AS (
      SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
    ),
    c1 AS (
      SELECT e.dst AS node, sum(p.rank // g.d) AS s
      FROM edges e JOIN pr0 p ON e.src = p.node JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ), pr1 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c1 c ON n.node = c.node
    ),
    c2 AS (
      SELECT e.dst AS node, sum(p.rank // g.d) AS s
      FROM edges e JOIN pr1 p ON e.src = p.node JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ), pr2 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c2 c ON n.node = c.node
    ),
    c3 AS (
      SELECT e.dst AS node, sum(p.rank // g.d) AS s
      FROM edges e JOIN pr2 p ON e.src = p.node JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ), pr3 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c3 c ON n.node = c.node
    ),
    c4 AS (
      SELECT e.dst AS node, sum(p.rank // g.d) AS s
      FROM edges e JOIN pr3 p ON e.src = p.node JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ), pr4 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c4 c ON n.node = c.node
    ),
    c5 AS (
      SELECT e.dst AS node, sum(p.rank // g.d) AS s
      FROM edges e JOIN pr4 p ON e.src = p.node JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ), pr5 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c5 c ON n.node = c.node
    ),
    c6 AS (
      SELECT e.dst AS node, sum(p.rank // g.d) AS s
      FROM edges e JOIN pr5 p ON e.src = p.node JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ), pr6 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c6 c ON n.node = c.node
    ),
    c7 AS (
      SELECT e.dst AS node, sum(p.rank // g.d) AS s
      FROM edges e JOIN pr6 p ON e.src = p.node JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ), pr7 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c7 c ON n.node = c.node
    ),
    c8 AS (
      SELECT e.dst AS node, sum(p.rank // g.d) AS s
      FROM edges e JOIN pr7 p ON e.src = p.node JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ), pr8 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c8 c ON n.node = c.node
    ),
    c9 AS (
      SELECT e.dst AS node, sum(p.rank // g.d) AS s
      FROM edges e JOIN pr8 p ON e.src = p.node JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ), pr9 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c9 c ON n.node = c.node
    ),
    c10 AS (
      SELECT e.dst AS node, sum(p.rank // g.d) AS s
      FROM edges e JOIN pr9 p ON e.src = p.node JOIN deg g ON e.src = g.src
      GROUP BY e.dst
    ), pr10 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c10 c ON n.node = c.node
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
           CAST(node // 2 AS BIGINT) AS entity_id,
           rank AS rank_e6
    FROM pr10
    ORDER BY rank_e6 DESC, node LIMIT 20"""


@register(
    "graph_pagerank",
    oracle=_PAGERANK_ORACLE,
    doc="PageRank over the customer->supplier purchase graph (edges = "
    "distinct (o_custkey, l_suppkey) via orders x lineitem; node ids "
    "disambiguated by even/odd encoding), 10 power iterations in EXACT "
    "integer fixed-point (operators/graph.pagerank_fixedpoint): rank "
    "in millionths, per-edge contribution rank div degree, damping as "
    "(85*s) div 100 — bit-identical across engines and partition "
    "layouts, which is what makes an iterative numeric job oracle-able "
    "at all (float PageRank varies per run with reduction order). "
    "Per-iteration cost is one equi-join + one keyed sum + one left "
    "join; static relations checkpointed once, superseded rank states "
    "unpersisted — the identical loop hygiene as the CC operators. "
    "Returns the top-20 entities by rank with deterministic tiebreak.",
    tags=("graph", "analytics"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.operators.graph import pagerank_fixedpoint

    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank_fixedpoint(edges, iters=10)
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("kind"),
            F.expr("node div 2").cast("bigint").alias("entity_id"),
            F.col("rank").alias("rank_e6"),
            F.col("node").alias("__n"),
        )
        .orderBy(F.col("rank_e6").desc(), F.col("__n"))
        .limit(20)
        .drop("__n")
    )


@register(
    "sample_poisson_bootstrap",
    oracle="""
    WITH reps AS (SELECT unnest(range(1, 9)) AS rep),
    w AS (
      SELECT d.doc_id, r.rep,
             ('0x' || substr(md5('boot:' || CAST(r.rep AS VARCHAR) || ':'
                 || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT % 1000 AS u,
             len(string_split(d.text, ' ')) AS n_tok
      FROM documents d, reps r
    ), wt AS (
      SELECT doc_id, rep, n_tok,
             CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1 WHEN u < 920 THEN 2
                  WHEN u < 981 THEN 3 WHEN u < 996 THEN 4 WHEN u < 999 THEN 5
                  ELSE 6 END AS w
      FROM w
    )
    SELECT CAST(rep AS INT) AS rep,
           CAST(sum(w) AS BIGINT) AS n_eff_docs,
           CAST(sum(w * n_tok) AS BIGINT) AS token_estimate
    FROM wt GROUP BY rep ORDER BY rep
    """,
    doc="Deterministic Poisson bootstrap (Chamandy et al., Google 2012 "
    "'Estimating Uncertainty for Massive Data Streams'): 8 bootstrap "
    "replicates of the corpus token-count estimator WITHOUT "
    "resampling — each (row, replicate) draws a Poisson(1) weight by "
    "pushing a salted md5 hash through the integer inverse-CDF "
    "thresholds (368/736/920/981/996/999 of 1000), so every weight "
    "is a pure function of (key, replicate): reproducible across "
    "engines, re-runs, and late data, the same discipline as the "
    "hash splits. One scan x R replicates (a literal explode, no "
    "shuffle until the per-replicate agg); the spread of the 8 "
    "estimates IS the uncertainty interval a 100 TB census reports "
    "without a second pass. All-integer output.",
    tags=("corpus", "sampling", "documents"),
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    reps = F.explode(F.sequence(F.lit(1), F.lit(8))).alias("rep")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("rep").cast("string"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000
    )
    w = (
        F.when(u < 368, 0)
        .when(u < 736, 1)
        .when(u < 920, 2)
        .when(u < 981, 3)
        .when(u < 996, 4)
        .when(u < 999, 5)
        .otherwise(6)
    )
    n_tok = F.size(F.split("text", " "))
    tagged = d.select("doc_id", n_tok.alias("n_tok"), reps).select(
        F.col("rep").cast("int").alias("rep"), w.alias("w"), "n_tok"
    )
    return (
        tagged.groupBy("rep")
        .agg(
            F.sum("w").cast("bigint").alias("n_eff_docs"),
            F.sum(F.col("w") * F.col("n_tok")).cast("bigint").alias("token_estimate"),
        )
        .orderBy("rep")
    )


@register(
    "val_distribution_drift",
    oracle="""
    WITH early AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bin, count(*) AS a
      FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
      GROUP BY event_type, bin
    ), late AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bin, count(*) AS b
      FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
      GROUP BY event_type, bin
    ), tot AS (
      SELECT e.event_type, sum(e.a) AS na, l.nb
      FROM early e JOIN (SELECT event_type, sum(b) AS nb FROM late GROUP BY event_type) l
        ON e.event_type = l.event_type
      GROUP BY e.event_type, l.nb
    ), joined AS (
      SELECT coalesce(e.event_type, l.event_type) AS event_type,
             coalesce(e.a, 0) AS a, coalesce(l.b, 0) AS b
      FROM early e FULL OUTER JOIN late l
        ON e.event_type = l.event_type AND e.bin = l.bin
    )
    SELECT t.event_type,
           CAST(t.na AS BIGINT) AS n_early,
           CAST(t.nb AS BIGINT) AS n_late,
           CAST(sum(abs(j.a * t.nb - j.b * t.na)) AS BIGINT) AS tvd_numerator
    FROM joined j JOIN tot t ON j.event_type = t.event_type
    GROUP BY t.event_type, t.na, t.nb ORDER BY t.event_type
    """,
    doc="Distribution-drift monitor between the early and late halves "
    "of the feed (the production check a pipeline runs before "
    "trusting a new partition): per event_type, total variation "
    "distance between the two value histograms (integer floor(value) "
    "bins), emitted as the EXACT integer numerator "
    "sum|a*nb - b*na| — TVD = numerator / (2*na*nb) — so the drift "
    "score involves no float division, no ln (PSI's failure mode on "
    "empty bins), and no reduction-order sensitivity. Bins absent on "
    "one side count with mass 0 via the full-outer bin join — "
    "exactly where drift hides. Shapes: two filtered scans, keyed "
    "aggs, one full-outer equi-join on (type, bin).",
    tags=("validation", "events", "lakehouse"),
)
def val_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    binc = F.floor("value").cast("bigint").alias("bin")
    early = (
        ev.filter(F.col("ts") < cutoff)
        .groupBy("event_type", binc)
        .agg(F.count(F.lit(1)).alias("a"))
    )
    late = (
        ev.filter(F.col("ts") >= cutoff)
        .groupBy("event_type", binc)
        .agg(F.count(F.lit(1)).alias("b"))
    )
    na = early.groupBy("event_type").agg(F.sum("a").alias("na"))
    nb = late.groupBy("event_type").agg(F.sum("b").alias("nb"))
    tot = na.join(nb, "event_type")
    e, l = early.alias("e"), late.alias("l")
    joined = e.join(
        l,
        (F.col("e.event_type") == F.col("l.event_type"))
        & (F.col("e.bin") == F.col("l.bin")),
        "full_outer",
    ).select(
        F.coalesce(F.col("e.event_type"), F.col("l.event_type")).alias("event_type"),
        F.coalesce(F.col("e.a"), F.lit(0)).alias("a"),
        F.coalesce(F.col("l.b"), F.lit(0)).alias("b"),
    )
    return (
        joined.join(tot, "event_type")
        .groupBy("event_type", "na", "nb")
        .agg(
            F.sum(F.abs(F.col("a") * F.col("nb") - F.col("b") * F.col("na")))
            .cast("bigint")
            .alias("tvd_numerator")
        )
        .select(
            "event_type",
            F.col("na").cast("bigint").alias("n_early"),
            F.col("nb").cast("bigint").alias("n_late"),
            "tvd_numerator",
        )
        .orderBy("event_type")
    )


_COS_SQL = """list_sum(list_transform(list_zip({a}, {b}),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(list_zip({a}, {a}),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))
              * sqrt(list_sum(list_transform(list_zip({b}, {b}),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))))"""


@register(
    "sim_maxsim_multivector",
    oracle="""
    WITH q AS (
      SELECT label AS ql, vec_id AS qid, embedding AS qv,
             row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
      FROM embeddings WHERE label IN (0, 1, 2)
    ), qs AS (SELECT ql, qid, qv FROM q WHERE rn <= 8),
    c AS (
      SELECT label AS cl, vec_id AS cid, embedding AS cv,
             row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
      FROM embeddings
    ), cs AS (SELECT cl, cid, cv FROM c WHERE rn <= 16),
    pairs AS (
      SELECT ql, cl, qid,
             CAST(floor("""
    + _COS_SQL.format(a="qv", b="cv")
    + """ * 1000000000) AS BIGINT) AS cos_e9
      FROM qs JOIN cs ON ql != cl
    ), best AS (
      SELECT ql, cl, qid, max(cos_e9) AS m FROM pairs GROUP BY ql, cl, qid
    ), score AS (
      SELECT ql, cl, CAST(sum(m) AS BIGINT) AS maxsim_e9
      FROM best GROUP BY ql, cl
    ), ranked AS (
      SELECT ql, cl, maxsim_e9,
             row_number() OVER (PARTITION BY ql
                                ORDER BY maxsim_e9 DESC, cl) AS rank
      FROM score
    )
    SELECT ql AS query_label, cl AS candidate_label, maxsim_e9,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3 ORDER BY query_label, rank
    """,
    doc="ColBERT-style late-interaction retrieval (Khattab & Zaharia "
    "2020, MaxSim): treating each label's vectors as one multi-vector "
    "document, score(query doc, candidate doc) = sum over query "
    "vectors of the max cosine against any candidate vector — the "
    "scoring that beats single-vector retrieval because each query "
    "token matches its own best passage token. Token sets are bounded "
    "deterministically (8 query / 16 candidate vectors per label via "
    "row_number — the production analogue of fixed per-doc token "
    "budgets), so the pair block is O(labels^2 x 128), independent of "
    "corpus sf; per-pair cosine is the repo's bit-exact left-fold "
    "dot, floored to an e9 integer BEFORE the per-query-vector max "
    "and the per-document sum, keeping the whole score exact and "
    "order-independent. Top-3 candidates per query label.",
    tags=("similarity", "embeddings"),
)
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.operators.similarity import cosine

    e = tables.load(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy("vec_id")
    ranked = e.select(
        "label", "vec_id", "embedding", F.row_number().over(w).alias("rn")
    )
    qs = ranked.filter(F.col("label").isin(0, 1, 2) & (F.col("rn") <= 8)).select(
        F.col("label").alias("ql"), F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
    )
    cs = ranked.filter(F.col("rn") <= 16).select(
        F.col("label").alias("cl"), F.col("embedding").alias("cv")
    )
    pairs = cs.join(F.broadcast(qs), F.col("ql") != F.col("cl")).select(
        "ql",
        "cl",
        "qid",
        F.floor(cosine("qv", "cv") * 1000000000).cast("bigint").alias("cos_e9"),
    )
    best = pairs.groupBy("ql", "cl", "qid").agg(F.max("cos_e9").alias("m"))
    score = best.groupBy("ql", "cl").agg(F.sum("m").cast("bigint").alias("maxsim_e9"))
    wr = Window.partitionBy("ql").orderBy(F.col("maxsim_e9").desc(), F.col("cl"))
    return (
        score.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("ql").alias("query_label"),
            F.col("cl").alias("candidate_label"),
            "maxsim_e9",
            "rank",
        )
        .orderBy("query_label", "rank")
    )


@register(
    "win_gap_islands",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_t
      FROM events WHERE user_id % 29 = 0
    ), isl AS (
      SELECT user_id, event_type, rn - rn_t AS island_key,
             count(*) AS run_len
      FROM seq GROUP BY user_id, event_type, island_key
    )
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_len) AS BIGINT) AS longest_run,
           CAST(sum(run_len) AS BIGINT) AS n_events
    FROM isl GROUP BY user_id, event_type ORDER BY user_id, event_type
    """,
    doc="Gaps-and-islands: maximal runs of CONSECUTIVE same-type events "
    "per user via the classic rn - rn_per_type difference (constant "
    "within a run, jumps at each interruption — turning a sequential "
    "scan problem into two windows + a groupBy, no self-join, no "
    "iteration). The production shape for streak/run analytics (login "
    "streaks, consecutive failures before an alert): both windows "
    "partition by user, so one shuffle on the user key serves "
    "everything, per-partition cost is the sort a key's own history "
    "needs. Deterministic under same-timestamp events via the "
    "event_id tiebreak. Bounded key subset, full values checked.",
    tags=("window", "events"),
)
def win_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events").filter(F.col("user_id") % 29 == 0)
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("island_key"),
    )
    isl = seq.groupBy("user_id", "event_type", "island_key").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        isl.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.max("run_len").cast("bigint").alias("longest_run"),
            F.sum("run_len").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id", "event_type")
    )


@register(
    "ml_linear_trend_exact",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             epoch(ts)::BIGINT // 86400 - 19723 AS x,
             CAST(floor(value * 1000) AS BIGINT) AS y
      FROM events
    ), s AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(((n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx) AS BIGINT)
             AS slope_milli_per_day_e3
    FROM s ORDER BY event_type
    """,
    doc="Closed-form OLS trend per event type WITHOUT Python — the "
    "normal-equations twin of udf_grouped_trend's pandas OLS: slope = "
    "(n*Sxy - Sx*Sy)/(n*Sxx - Sx^2), where every S is a plain "
    "map-side-combinable SUM over integer-rescaled coordinates (x = "
    "whole days since the feed epoch, y = value in exact milli units) "
    "— so the whole fit is ONE aggregation pass producing exact "
    "integers, and the slope is emitted as the exact numerator/"
    "denominator pair plus a truncating fixed-point quotient "
    "(Spark `div` and DuckDB `//` both truncate toward zero — "
    "verified, including negatives). The integer-rescale is also the "
    "overflow lever: bounds are documented per scale factor, and a "
    "bigger corpus coarsens x or y units rather than falling back to "
    "floats (a float Sxy loses the determinism the oracle needs). "
    "This is the shape regression-at-scale actually takes: sums in "
    "the engine, algebra on the driver-sized result.",
    tags=("analytics", "events"),
)
def ml_linear_trend_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    # integer floor of epoch-seconds/86400: cast truncates, but epoch
    # seconds here are always positive so truncate == floor
    x = (
        F.floor(
            F.expr(
                "timestampdiff(SECOND, cast('1970-01-01 00:00:00' as timestamp_ntz), ts)"
            )
            / 86400
        ).cast("bigint")
        - 19723
    )
    y = F.floor(F.col("value") * 1000).cast("bigint")
    pts = ev.select("event_type", x.alias("x"), y.alias("y"))
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        num.cast("bigint").alias("slope_num"),
        den.cast("bigint").alias("slope_den"),
        F.expr(
            "(CAST(n * sxy - sx * sy AS BIGINT) * 1000)"
            " div (CAST(n * sxx - sx * sx AS BIGINT))"
        ).alias("slope_milli_per_day_e3"),
    ).orderBy("event_type")


@register(
    "dedup_incremental_digest",
    oracle="""
    WITH hist AS (
      SELECT md5(text) AS ch FROM documents WHERE doc_id % 2 = 0
    ), incoming AS (
      SELECT doc_id, source, md5(text) AS ch FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 1000000, source, md5(text) FROM documents
      WHERE doc_id % 2 = 0 AND doc_id % 16 = 0
    ), tagged AS (
      SELECT i.doc_id, i.source, i.ch IN (SELECT ch FROM hist) AS is_dup
      FROM incoming i
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_incoming,
           CAST(count(*) FILTER (NOT is_dup) AS BIGINT) AS n_new,
           CAST(count(*) FILTER (is_dup) AS BIGINT) AS n_dup,
           CAST(sum(CASE WHEN NOT is_dup THEN doc_id ELSE 0 END) AS BIGINT)
             AS new_id_sum
    FROM tagged GROUP BY source ORDER BY source
    """,
    doc="Incremental exact dedup of a new batch against a historical "
    "corpus too big to shuffle wholesale — the daily-ingest pattern: "
    "broadcast a COMPACT KEY DIGEST of history (distinct "
    "xxhash64-bucket of the content hash, 2^20 buckets — the "
    "poor-man's Bloom filter as a pure DataFrame, no driver UDF), "
    "split incoming into digest-negative rows (definitely new, never "
    "shuffled against history) and digest-positive candidates, and "
    "run the exact content-hash anti-join ONLY on the candidates. "
    "False positives (bucket collisions) are caught by the exact "
    "join, so the RESULT is exactly the naive anti-join — which is "
    "what the oracle states; the digest changes the cost, not the "
    "answer. The batch carries planted true dups (every 16th "
    "historical doc re-submitted) so both branches are exercised and "
    "falsifiable. At scale: digest build is one distinct over "
    "history (amortizable across days), per-batch cost is "
    "broadcast-filter + a candidate-only shuffle.",
    tags=("corpus", "dedup", "documents"),
)
def dedup_incremental_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    ch = F.md5("text")
    hist = d.filter(F.col("doc_id") % 2 == 0).select(ch.alias("ch"))
    incoming = (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "source", ch.alias("ch"))
        .unionAll(
            d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 16 == 0)).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "source", ch.alias("ch")
            )
        )
    )
    bucket = F.pmod(F.xxhash64("ch"), F.lit(1 << 20)).alias("bucket")
    digest = hist.select(bucket).distinct()
    inc_b = incoming.select("doc_id", "source", "ch", bucket)
    definite_new = inc_b.join(F.broadcast(digest), "bucket", "left_anti")
    cand = inc_b.join(F.broadcast(digest), "bucket", "left_semi")
    dup = cand.join(hist, "ch", "left_semi")
    false_pos = cand.join(hist, "ch", "left_anti")
    tagged = (
        definite_new.select("doc_id", "source", F.lit(False).alias("is_dup"))
        .unionAll(false_pos.select("doc_id", "source", F.lit(False).alias("is_dup")))
        .unionAll(dup.select("doc_id", "source", F.lit(True).alias("is_dup")))
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_incoming"),
            F.sum(F.when(~F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("bigint").alias("n_dup"),
            F.sum(F.when(~F.col("is_dup"), F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("new_id_sum"),
        )
        .orderBy("source")
    )


@register(
    "agg_decayed_counts",
    oracle="""
    WITH aged AS (
      SELECT event_type,
             (epoch_us(TIMESTAMP '2024-01-31 00:00:00')
              - epoch_us(ts)) // 3600000000 AS h,
             CAST(floor(value * 1000) AS BIGINT) AS vm
      FROM events
    ), w AS (
      SELECT event_type, vm,
             CAST(floor(pow(2.0, -(h / 168.0)) * 1000000000) AS BIGINT) AS w_e9
      FROM aged
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(w_e9) AS BIGINT) AS decayed_count_e9,
           CAST(sum(w_e9 * vm) AS BIGINT) AS decayed_value_e9milli
    FROM w GROUP BY event_type ORDER BY event_type
    """,
    doc="Exponentially time-decayed counters (7-day half-life) — the "
    "recency-weighted metric a monitoring/feature pipeline keeps "
    "instead of raw counts: weight = 2^(-age/halflife), age "
    "quantized to whole hours so the pow() input grid is small and "
    "shared, and every weight floored to an e9 integer BEFORE "
    "summation — pow floor-grid agreement Spark vs DuckDB verified "
    "over the full 800-hour grid, and the integer sums make the "
    "decayed mass exact and layout-independent. The decayed counter "
    "is MERGEABLE (sum of per-partition integer partials) and "
    "incrementally maintainable (yesterday's total re-scales by one "
    "global factor, today's partition adds) — the IVM-friendly shape "
    "that replaces full-history rescans. One scan, one grouped agg.",
    tags=("analytics", "events", "lakehouse"),
)
def agg_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    # exact integer MICROSECONDS on both sides (epoch_us in DuckDB):
    # second-granularity epoch() rounds sub-second parts differently
    # per engine and flips hour buckets at boundaries (observed)
    # 1706659200000000 = epoch µs of 2024-01-31 00:00:00; derive the
    # event side zone-free (timestampdiff on NTZ operands consults the
    # session zone inside DST gaps — round-10 fix).
    ref = f"(1706659200000000 - {tables._MICROS_FROM_NTZ.format(ts='ts')})"
    h = F.expr(f"({ref}) div 3600000000").cast("bigint")
    w_e9 = F.floor(F.pow(F.lit(2.0), -(h / 168.0)) * 1e9).cast("bigint")
    vm = F.floor(F.col("value") * 1000).cast("bigint")
    w = ev.select("event_type", w_e9.alias("w_e9"), vm.alias("vm"))
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("w_e9").cast("bigint").alias("decayed_count_e9"),
            F.sum(F.col("w_e9") * F.col("vm"))
            .cast("bigint")
            .alias("decayed_value_e9milli"),
        )
        .orderBy("event_type")
    )


@register(
    "join_fuzzy_editdistance",
    oracle="""
    WITH names AS (
      SELECT c_custkey AS k, c_name AS nm FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT CAST((SELECT count(*) FROM names) AS BIGINT) AS n_names,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(a.k + b.k) AS BIGINT) AS pair_key_sum
    FROM names a JOIN names b
      ON a.k < b.k AND levenshtein(a.nm, b.nm) <= 1
    """,
    doc="Fuzzy self-join at edit distance <= 1 via SYMMETRIC-DELETE "
    "blocking (the SymSpell algorithm): each name emits itself plus "
    "its |name| single-deletion variants; any ins/del/sub-1 pair is "
    "GUARANTEED to share a variant (substitution: both delete the "
    "differing position; ins/del: the longer's deletion hits the "
    "shorter identity), so an equi-join on the variant key is a "
    "complete candidate generator and exact levenshtein verifies the "
    "survivors — entity resolution without the O(n^2) name cross "
    "join. Candidate volume is n x (len+1) keys, join fanout bounded "
    "by per-variant frequency (hot variants are capped the same way "
    "the shingle index caps df). The oracle is the BRUTE-FORCE "
    "distance join — blocking must not lose a single pair.",
    tags=("join", "similarity"),
)
def join_fuzzy_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load(spark, sf_dir, "customer")
    names = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("nm")
    )
    ln = F.length("nm")
    variants = F.concat(
        F.array(F.col("nm")),
        F.transform(
            F.sequence(F.lit(1), ln),
            lambda i: F.concat(
                F.col("nm").substr(F.lit(1), i - 1),
                F.col("nm").substr(i + 1, ln),
            ),
        ),
    )
    v = names.select("k", "nm", F.explode(variants).alias("v"))
    a, b = v.alias("a"), v.alias("b")
    cands = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.k") < F.col("b.k")))
        .select(
            F.col("a.k").alias("ka"),
            F.col("a.nm").alias("na"),
            F.col("b.k").alias("kb"),
            F.col("b.nm").alias("nb"),
        )
        .distinct()
    )
    pairs = cands.filter(F.levenshtein("na", "nb") <= 1)
    n_names = names.agg(F.count(F.lit(1)).cast("bigint").alias("n_names"))
    return n_names.crossJoin(
        pairs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("ka") + F.col("kb")).cast("bigint").alias("pair_key_sum"),
        )
    )


@register(
    "scan_schema_evolution",
    oracle="""
    WITH v1 AS (
      SELECT event_id, event_type, value FROM events
      WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    ), v2 AS (
      SELECT event_id, event_type, value, user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    ), unioned AS (
      SELECT event_id, event_type, value, NULL AS user_id FROM v1
      UNION ALL
      SELECT event_id, event_type, value, user_id FROM v2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (user_id IS NULL) AS BIGINT) AS n_pre_evolution,
           CAST(count(*) FILTER (user_id IS NOT NULL) AS BIGINT)
             AS n_post_evolution,
           CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
             AS value_milli_sum
    FROM unioned GROUP BY event_type ORDER BY event_type
    """,
    doc="Schema evolution at the SCAN, not in application code — the "
    "lake reality that old partitions lack columns added later: two "
    "physical parquet generations are written (v1 without user_id, "
    "v2 with it) into one table dir and read back through ONE scan "
    "with mergeSchema=true; Spark unions the footers' schemas and "
    "backfills typed NULLs for the missing column, and the query "
    "reports the per-type null census proving which generation each "
    "row came from plus an exact value checksum proving no row was "
    "lost or doubled. At 100 TB this is the difference between "
    "ALTER-TABLE-rewriting years of partitions and just writing the "
    "new column forward. (mergeSchema costs a footer read per file — "
    "production tables pin the merged schema in a metastore; the "
    "semantics demonstrated here are identical.)",
    tags=("scan", "lakehouse", "events"),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    ev = tables.load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    base = staging.new_dir("crs_schema_evo_")
    try:
        ev.filter(F.col("ts") < cutoff).select(
            "event_id", "event_type", "value"
        ).write.mode("overwrite").parquet(base + "/gen=1")
        ev.filter(F.col("ts") >= cutoff).select(
            "event_id", "event_type", "value", "user_id"
        ).write.mode("overwrite").parquet(base + "/gen=2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            base + "/gen=1", base + "/gen=2"
        )
        out = (
            merged.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_pre_evolution"),
                F.sum(F.when(F.col("user_id").isNotNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_post_evolution"),
                F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
                .cast("bigint")
                .alias("value_milli_sum"),
            )
            .orderBy("event_type")
        )
        # materialize before the staging dir is deleted; rebuild as a
        # JVM literal plan (tables.local_table), NOT createDataFrame —
        # the RDD-backed python path costs ~4s per downstream action
        rows = [tuple(r) for r in out.collect()]
        return tables.local_table(
            spark,
            rows,
            [
                ("event_type", "string"),
                ("n_rows", "bigint"),
                ("n_pre_evolution", "bigint"),
                ("n_post_evolution", "bigint"),
                ("value_milli_sum", "bigint"),
            ],
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "corpus_prepare_v2",
    oracle="""
    WITH gate AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               len(string_split(text, ' ')) AS n_words,
               length(replace(text, ' ', ''))
                 * 1.0 / len(string_split(text, ' ')) AS mean_wlen,
               (SELECT max(c) FROM (
                  SELECT count(*) AS c
                  FROM unnest(string_split(text, ' ')) AS t(w) GROUP BY w))
                 AS top_freq,
               len(list_intersect(string_split(text, ' '),
                   ['the', 'a', 'of', 'to', 'and'])) > 0 AS has_stop,
               -256 + list_sum([
                 (CAST(('0x' || substr(md5(w), 1, 8))::UBIGINT % 64 AS BIGINT)
                    * 2654435761 % 97 - 48)
                 FOR w IN string_split(text, ' ')]) AS millis
        FROM documents
      ) WHERE n_words BETWEEN 20 AND 80 AND mean_wlen BETWEEN 2.0 AND 12.0
          AND top_freq * 5 <= n_words AND has_stop AND millis > -2048
    ), segs AS (
      SELECT doc_id, source, u.i AS seg_idx,
             array_to_string(t[u.i*10+1 : u.i*10+10], ' ') AS seg
      FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM gate),
           LATERAL (SELECT unnest(range(0, CAST(ceil(len(t) / 10.0) AS INT)))
                    AS i) AS u
    ), ranked AS (
      SELECT doc_id, source, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    ), r1 AS (
      SELECT doc_id, any_value(source) AS source,
             coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (rn = 1), '')
               AS t1
      FROM ranked GROUP BY doc_id
    ), f1 AS (
      SELECT doc_id, source, string_split(t1, ' ') AS t FROM r1
      WHERE t1 <> '' AND len(string_split(t1, ' ')) >= 5
    ), wins AS (
      SELECT doc_id, u.i AS wstart,
             md5(array_to_string(t[u.i+1 : u.i+8], ' ')) AS h
      FROM f1, LATERAL (SELECT unnest(range(0, greatest(len(t) - 7, 0))) AS i)
               AS u
    ), dups AS (
      SELECT h FROM wins GROUP BY h HAVING count(*) >= 2
    ), covered AS (
      SELECT DISTINCT w.doc_id, w.wstart + v.off AS pos
      FROM wins w JOIN dups USING (h),
           LATERAL (SELECT unnest(range(0, 8)) AS off) AS v
    ), toks AS (
      SELECT doc_id, source, u.j AS pos, t[u.j + 1] AS tok
      FROM f1, LATERAL (SELECT unnest(range(0, len(t))) AS j) AS u
    ), r2 AS (
      SELECT k.doc_id, any_value(k.source) AS source,
             coalesce(string_agg(k.tok, ' ' ORDER BY k.pos)
                      FILTER (c.pos IS NULL), '') AS t2
      FROM toks k LEFT JOIN covered c
        ON k.doc_id = c.doc_id AND k.pos = c.pos
      GROUP BY k.doc_id
    ), f2 AS (
      SELECT doc_id, source, t2 FROM r2
      WHERE t2 <> '' AND len(string_split(t2, ' ')) >= 5
    ), exact AS (
      SELECT doc_id, source, t2,
             row_number() OVER (PARTITION BY md5(t2) ORDER BY doc_id) AS rn
      FROM f2
    ), final AS (
      SELECT doc_id, t2 FROM exact WHERE rn = 1
    )
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
                THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
                THEN 'val' ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(t2, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(('0x' || substr(md5(t2), 1, 8))::UBIGINT) AS BIGINT)
             AS text_checksum
    FROM final GROUP BY split ORDER BY split
    """,
    doc="The corpus-hygiene capstone — the ROUND-6 tier composed end to "
    "end in one plan, each stage feeding the next's REBUILT text (not "
    "the original): Gopher quality gate AND hashed-classifier "
    "threshold (millis > -2048) -> C4 cross-doc line dedup (rebuild) "
    "-> ExactSubstr span removal on the rebuilt text (rebuild again) "
    "-> short-doc floor after each rebuild -> exact content dedup "
    "(min doc_id per md5) -> deterministic md5 split census with a "
    "final-text checksum. Every stage is the already-verified "
    "operator; the capstone proves they CHAIN — the checksum pins "
    "every byte of every surviving document after two rebuilds, so a "
    "single token lost or duplicated anywhere in the pipeline fails "
    "the hash. Scale shape is the union of the stages' shapes; "
    "nothing re-materializes between stages.",
    tags=("corpus", "training", "dedup", "documents"),
)
def corpus_prepare_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.operators.maintenance import hash_bucket
    from chess_ratings_spark.operators.text import max_multiplicity

    d = tables.load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    mean_wlen = F.length(F.regexp_replace("text", " ", "")) * F.lit(1.0) / n_words
    top_freq = max_multiplicity(toks)
    has_stop = F.arrays_overlap(
        toks, F.array(*[F.lit(w) for w in ("the", "a", "of", "to", "and")])
    )
    millis = F.lit(-256).cast("bigint") + F.aggregate(
        F.transform(toks, lambda w: hash_bucket(w, 64) * F.lit(2654435761) % 97 - 48),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    gate = d.filter(
        n_words.between(20, 80)
        & (mean_wlen >= 2.0)
        & (mean_wlen <= 12.0)
        & (top_freq * 5 <= n_words)
        & has_stop
        & (millis > -2048)
    ).select("doc_id", "source", "text")

    # stage 2: C4 line dedup (skew-immune min-struct keep rule)
    t = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(t) / F.lit(10.0)).cast("int")
    segs = gate.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.concat_ws(" ", F.slice(t, i * 10 + 1, 10)),
            )
        ).alias("seg_idx", "seg"),
    )
    mins = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("fo")
    )
    first = (F.col("doc_id") == F.col("fo.doc_id")) & (
        F.col("seg_idx") == F.col("fo.seg_idx")
    )
    r1 = (
        segs.join(mins, "seg")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("source")).alias("source"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.when(first, F.struct("seg_idx", "seg")))
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("t1"),
        )
    )
    # f1 (gate -> line dedup -> rebuild) feeds BOTH stage-3 branches
    # (window hashes and token positions): checkpoint so stages 1-2 run
    # once, not twice (guide §3.3)
    f1 = (
        r1.filter((F.col("t1") != "") & (F.size(F.split("t1", " ")) >= 5))
        .select(
            "doc_id",
            "source",
            F.split("t1", " ").alias("t"),
            F.size(F.split("t1", " ")).alias("n_tok"),
        )
        .localCheckpoint(eager=True)
    )

    # stage 3: ExactSubstr span removal on the rebuilt text
    starts = F.when(
        F.col("n_tok") >= 8, F.sequence(F.lit(0), F.col("n_tok") - 8)
    ).otherwise(F.array().cast("array<int>"))
    # wins (one md5 per 8-token window) feeds the duplicate-hash census
    # AND the coverage join; checkpoint so the hash pass runs once
    wins = (
        f1.select("doc_id", F.explode(starts).alias("wstart"), "t")
        .select(
            "doc_id",
            "wstart",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("t"), F.col("wstart") + 1, 8))
            ).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    dups = wins.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 2)
    covered = (
        wins.join(dups.select("h"), "h")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("wstart"), F.col("wstart") + 7)).alias("pos"),
        )
        .distinct()
        .withColumn("cov", F.lit(1))
    )
    tokpos = f1.select("doc_id", "source", F.posexplode("t").alias("pos", "tok"))
    keep = F.col("cov").isNull()
    r2 = (
        tokpos.join(covered, ["doc_id", "pos"], "left")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("source")).alias("source"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.when(keep, F.struct("pos", "tok")))),
                    lambda s: s["tok"],
                ),
            ).alias("t2"),
        )
    )
    f2 = r2.filter((F.col("t2") != "") & (F.size(F.split("t2", " ")) >= 5))

    # stage 4: exact content dedup, min doc_id survives
    ex_min = f2.groupBy(F.md5("t2").alias("ch")).agg(F.min("doc_id").alias("keep_id"))
    final = f2.join(
        ex_min, (F.md5(F.col("t2")) == F.col("ch")) & (F.col("doc_id") == F.col("keep_id"))
    )

    # stage 5: deterministic split census
    c = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(c <= "b", "train").when(c <= "d", "val").otherwise("test").alias("split")
    )
    return (
        final.groupBy(split)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("t2", " "))).cast("bigint").alias("n_tokens"),
            _text_checksum("t2").alias("text_checksum"),
        )
        .orderBy("split")
    )


@register(
    "sink_manifest_atomic",
    oracle="""
    WITH committed AS (
      SELECT count(*) AS n FROM events WHERE event_type <> 'error'
    ), orphan AS (
      SELECT count(*) AS n FROM events WHERE event_type = 'error'
    )
    SELECT CAST(c.n AS BIGINT) AS n_rows_manifest,
           CAST(c.n + o.n AS BIGINT) AS n_rows_dir_naive,
           CAST(o.n AS BIGINT) AS n_rows_orphan,
           o.n > 0 AS orphan_excluded
    FROM committed c, orphan o
    """,
    doc="Atomic publish via manifest — the commit protocol Delta/"
    "Iceberg formalize, demonstrated with plain parquet: a writer "
    "lands data files in the table dir, then atomically publishes a "
    "MANIFEST naming exactly the committed files; readers resolve the "
    "manifest and scan ONLY its files. The demo writes a committed "
    "dataset (non-error events), then simulates a crashed/concurrent "
    "writer by dropping an ORPHAN parquet file (the error events) "
    "into the same directory with no manifest entry: the "
    "manifest-resolved read returns exactly the committed rows while "
    "the naive directory listing sees committed+orphan — the row "
    "delta IS the torn-read bug class manifests exist to prevent. "
    "Reader-side file pruning costs one tiny JSON read; at 100 TB "
    "the manifest also carries per-file stats for pruning (the "
    "scan_partition_pruning lever, one level down).",
    tags=("sink", "lakehouse", "events"),
)
def sink_manifest_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import shutil
    from pathlib import Path

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = Path(staging.new_dir("crs_manifest_"))
    try:
        committed_dir = str(base / "table")
        ev.filter(F.col("event_type") != "error").repartition(4).write.mode(
            "overwrite"
        ).parquet(committed_dir)
        committed_files = sorted(
            str(p) for p in Path(committed_dir).glob("*.parquet")
        )
        (base / "table" / "_manifest.json").write_text(
            _json.dumps({"version": 1, "files": committed_files})
        )
        # a crashed writer's orphan data file(s), never committed; the
        # copy loop handles zero parts (no error events in this
        # fixture/scale — the demo then shows orphan_excluded=false,
        # which the oracle states as o.n > 0) and multi-part writes
        ev.filter(F.col("event_type") == "error").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(base / "orphan"))
        for i, orphan_part in enumerate(
            sorted(Path(str(base / "orphan")).glob("*.parquet"))
        ):
            shutil.copy(
                orphan_part, Path(committed_dir) / f"part-orphan-{i}.parquet"
            )

        manifest = _json.loads((base / "table" / "_manifest.json").read_text())
        n_manifest = spark.read.parquet(*manifest["files"]).count()
        n_naive = spark.read.parquet(committed_dir).count()
        return tables.local_table(
            spark,
            [(n_manifest, n_naive, n_naive - n_manifest, n_naive > n_manifest)],
            [
                ("n_rows_manifest", "bigint"),
                ("n_rows_dir_naive", "bigint"),
                ("n_rows_orphan", "bigint"),
                ("orphan_excluded", "boolean"),
            ],
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "sample_balanced_classes",
    oracle="""
    WITH counts AS (
      SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ), target AS (
      SELECT min(n) AS n_min FROM counts
    ), ranked AS (
      SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY md5('bal:' || CAST(event_id AS VARCHAR)),
                                         event_id) AS rn
      FROM events
    )
    SELECT r.event_type,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(any_value(t.n_min) AS BIGINT) AS n_target,
           CAST(sum(r.event_id) AS BIGINT) AS kept_id_sum
    FROM ranked r, target t
    WHERE r.rn <= t.n_min
    GROUP BY r.event_type ORDER BY r.event_type
    """,
    doc="Deterministic class balancing — downsample every class to the "
    "minority-class count (the classifier-training prep step): "
    "per-class uniform subset selected by ranking on a salted md5 of "
    "the row key (content-independent, so membership survives "
    "re-runs, engine swaps, and repartitioning — same discipline as "
    "the hash splits) with the key itself as the total-order "
    "tiebreak, keeping exactly n_min rows per class. Shapes: one "
    "count agg (map-combinable), one 1-row minimum broadcast, one "
    "rank window per class partition. On a skewed 100 TB corpus the "
    "window sorts only each class's own partition; for extreme "
    "majority classes swap the exact rank for the bottom-k "
    "hash-threshold variant (sample_bottomk) to avoid the full "
    "per-class sort. Exact integer outputs incl. a kept-set "
    "id-sum checksum.",
    tags=("sampling", "events", "training"),
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    target = counts.agg(F.min("n").alias("n_min"))
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat(F.lit("bal:"), F.col("event_id").cast("string"))), "event_id"
    )
    ranked = ev.select(
        "event_type", "event_id", F.row_number().over(w).alias("rn")
    )
    kept = ranked.crossJoin(F.broadcast(target)).filter(
        F.col("rn") <= F.col("n_min")
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.any_value(F.col("n_min")).cast("bigint").alias("n_target"),
            F.sum("event_id").cast("bigint").alias("kept_id_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "win_event_pattern",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    ), counts AS (
      SELECT user_id,
             len(regexp_extract_all(seq, 'view,click,purchase')) AS n_funnel,
             len(regexp_extract_all(seq, 'error,error')) AS n_err_pairs
      FROM seqs
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (n_funnel > 0) AS BIGINT) AS n_users_funnel,
           CAST(sum(n_funnel) AS BIGINT) AS total_funnels,
           CAST(count(*) FILTER (n_err_pairs > 0) AS BIGINT)
             AS n_users_err_burst,
           CAST(sum(n_err_pairs) AS BIGINT) AS total_err_bursts
    FROM counts
    """,
    doc="MATCH_RECOGNIZE-style event pattern detection (CEP-lite, the "
    "SQL:2016 row-pattern feature Spark lacks): per user, the event "
    "history collapses to ONE ordered symbol string (sort_array over "
    "collect_list(struct(ts, event_id, type)) — deterministic under "
    "same-timestamp events via the id tiebreak), and patterns become "
    "plain regexes over that string — strict-adjacency funnel "
    "view->click->purchase and error-burst error,error here. Both "
    "engines scan non-overlapping left-to-right, so counts agree "
    "exactly. Scale shape: one shuffle on the user key; per-user "
    "state is the user's own history (the same bound any "
    "MATCH_RECOGNIZE engine carries), and the regex runs inside the "
    "JVM — no UDF. Arbitrary patterns = swap the literal.",
    tags=("window", "events", "analytics"),
)
def win_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ),
        ",",
    )
    seqs = ev.groupBy("user_id").agg(seq.alias("seq"))
    counts = seqs.select(
        F.regexp_count("seq", F.lit("view,click,purchase")).alias("n_funnel"),
        F.regexp_count("seq", F.lit("error,error")).alias("n_err_pairs"),
    )
    return counts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("n_funnel") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_users_funnel"),
        F.sum("n_funnel").cast("bigint").alias("total_funnels"),
        F.sum(F.when(F.col("n_err_pairs") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_users_err_burst"),
        F.sum("n_err_pairs").cast("bigint").alias("total_err_bursts"),
    )


@register(
    "agg_retention_cohorts",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), firsts AS (
      SELECT user_id, event_type AS first_action,
             epoch_us(ts) // 86400000000 AS first_day
      FROM ranked WHERE rn = 1
    ), activity AS (
      SELECT DISTINCT e.user_id, epoch_us(e.ts) // 86400000000 AS day
      FROM events e
    )
    SELECT f.first_action,
           CAST((a.day - f.first_day) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active,
           CAST(count(*) AS BIGINT) AS n_user_days
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY f.first_action, week_offset
    ORDER BY f.first_action, week_offset
    """,
    doc="Cohort retention matrix — the product-analytics staple: cohort "
    "each user by their FIRST action (rn=1 window with the (ts, "
    "event_id) tiebreak), then count distinct active users and active "
    "user-days per (cohort, weeks-since-first) cell. Day arithmetic "
    "in exact integer microseconds (epoch_us // 86400e6 — the "
    "engine-portable day bucket this repo standardized on after "
    "second-granularity epoch() rounding flipped buckets). Shapes: "
    "one user-key window for firsts and one DISTINCT on (user, day) "
    "— two shuffles on the same key (different subplans, so no "
    "exchange reuse; a pre-bucketed table would serve both "
    "shuffle-free); the cohort join broadcasts the firsts side when "
    "users << activity. All-integer output, every cell value-checked.",
    tags=("analytics", "events"),
)
def agg_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    day = F.expr(
        f"{tables._MICROS_FROM_NTZ.format(ts='ts')} div 86400000000"
    ).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.select(
            "user_id",
            "event_type",
            day.alias("day"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("first_action"),
            F.col("day").alias("first_day"),
        )
    )
    activity = ev.select("user_id", day.alias("day")).distinct()
    joined = activity.join(firsts, "user_id").select(
        "first_action",
        F.expr("(day - first_day) div 7").cast("bigint").alias("week_offset"),
        "user_id",
    )
    return (
        joined.groupBy("first_action", "week_offset")
        .agg(
            F.countDistinct("user_id").alias("n_active"),
            F.count(F.lit(1)).alias("n_user_days"),
        )
        .orderBy("first_action", "week_offset")
    )


@register(
    "agg_mad_outliers",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vm,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), med AS (
      SELECT event_type, vm AS med_milli FROM v
      WHERE rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
    ), dev AS (
      SELECT v.event_type, abs(v.vm - m.med_milli) AS d,
             row_number() OVER (PARTITION BY v.event_type
                                ORDER BY abs(v.vm - m.med_milli), v.rn) AS drn,
             count(*) OVER (PARTITION BY v.event_type) AS n
      FROM v JOIN med m ON v.event_type = m.event_type
    ), mad AS (
      SELECT event_type, d AS mad_milli FROM dev
      WHERE drn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
    )
    SELECT d.event_type,
           CAST(any_value(m2.med_milli) AS BIGINT) AS med_milli,
           CAST(any_value(a.mad_milli) AS BIGINT) AS mad_milli,
           CAST(count(*) FILTER (d.d > 5 * a.mad_milli) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n
    FROM dev d
    JOIN mad a ON d.event_type = a.event_type
    JOIN med m2 ON d.event_type = m2.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    doc="Robust outlier gate via median absolute deviation — the "
    "companion to anomaly_zscore that heavy-tailed values actually "
    "need (mean/stddev are themselves dragged by the outliers they "
    "hunt; median/MAD have a 50% breakdown point): exact discrete "
    "median via the rank-pick (the same float-free index machinery "
    "as agg_sketch_quantiles), deviations in exact milli ints, MAD "
    "by a second rank-pick, outlier = |x - med| > 5*MAD as integer "
    "cross-multiplication. Two window passes + one broadcastable "
    "5-row join back; at 100 TB both picks swap for "
    "percentile_approx sketches without changing the plan shape. "
    "Full tie discipline: value ties broken by event_id, deviation "
    "ties by the value rank.",
    tags=("analytics", "validation", "events"),
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    wv = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000).cast("bigint").alias("vm"),
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = (F.floor(0.5 * (F.col("n") - 1)) + 1).cast("bigint")
    med = v.filter(F.col("rn") == pick).select(
        "event_type", F.col("vm").alias("med_milli")
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("vm") - F.col("med_milli")).alias("d"),
        "rn",
    )
    wd = Window.partitionBy("event_type").orderBy("d", "rn")
    dev_r = dev.select(
        "event_type",
        "d",
        F.row_number().over(wd).alias("drn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mad = dev_r.filter(F.col("drn") == pick).select(
        "event_type", F.col("d").alias("mad_milli")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value(F.col("med_milli")).cast("bigint").alias("med_milli"),
            F.any_value(F.col("mad_milli")).cast("bigint").alias("mad_milli"),
            F.sum(F.when(F.col("d") > 5 * F.col("mad_milli"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "text_keywords_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT t.doc_id, t.term,
             t.tf * CAST(floor(ln(n.n_docs * 1.0 / d.df) * 1000000) AS BIGINT)
               AS score_e6,
             row_number() OVER (PARTITION BY t.doc_id
                ORDER BY t.tf * CAST(floor(ln(n.n_docs * 1.0 / d.df)
                         * 1000000) AS BIGINT) DESC, t.term) AS rnk
      FROM tf t JOIN df d ON t.term = d.term, n
    )
    SELECT doc_id, CAST(rnk AS INT) AS rank, term, score_e6
    FROM scored WHERE rnk <= 3 AND doc_id % 37 = 0
    ORDER BY doc_id, rank
    """,
    doc="Per-document keyword extraction by tf-idf — the document-level "
    "twin of text_idf_topk's corpus view: term frequency per (doc, "
    "term), document frequency per term (both map-combinable aggs), "
    "idf discretized to floor(ln(N/df)*1e6) — ONE integer per "
    "DISTINCT TERM, so the tf x idf score is an exact integer and "
    "the top-3-per-doc window (score desc, term asc tiebreak) is "
    "deterministic; the ln floor-grid is the same bridge "
    "text_perplexity_filter verified. Scale shape: the term join is "
    "a shuffle equi-join on the term key (vocab-sized side, not "
    "broadcast); per-doc top-k compiles to WindowGroupLimit so only "
    "k rows per doc survive each mapper. Returned for a bounded doc "
    "subset, every (rank, term, score) value-checked.",
    tags=("corpus", "text", "documents"),
)
def text_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf_e6 = F.floor(
        F.log(F.col("n_docs") * F.lit(1.0) / F.col("df")) * 1000000
    ).cast("bigint")
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", (F.col("tf") * idf_e6).alias("score_e6")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_e6").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter((F.col("rank") <= 3) & (F.col("doc_id") % 37 == 0))
        .select("doc_id", "rank", "term", "score_e6")
        .orderBy("doc_id", "rank")
    )


@register(
    "agg_histogram_2d",
    oracle="""
    SELECT CAST(hour(ts) AS INT) AS hour_of_day,
           CAST(floor(value / 10) AS BIGINT) AS value_band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
             AS value_milli_sum
    FROM events
    GROUP BY hour_of_day, value_band
    ORDER BY hour_of_day, value_band
    """,
    doc="2D histogram / heat-map aggregation (hour-of-day x value "
    "band) — the dashboard-facing rollup shape: two derived integer "
    "bin keys, one grouped agg, exact fixed-point value mass per "
    "cell. hour() on TIMESTAMP_NTZ is pure wall-clock on both "
    "engines (no session-timezone consult — the reason the loader "
    "normalizes events.ts to NTZ). Cardinality is bounded by the bin "
    "grid (24 x bands) regardless of corpus size, so the result is "
    "driver-safe at any scale and the agg is fully map-side "
    "combinable.",
    tags=("aggregation", "analytics", "events"),
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.hour("ts").cast("int").alias("hour_of_day"),
            F.floor(F.col("value") / 10).cast("bigint").alias("value_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
            .cast("bigint")
            .alias("value_milli_sum"),
        )
        .orderBy("hour_of_day", "value_band")
    )


@register(
    "graph_label_propagation",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey % 11 = 0
    ), ud AS (
      SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
    ), lp0 AS (
      SELECT DISTINCT src AS node, src AS lbl FROM ud
    ),
    nb1 AS (
      SELECT u.src AS node, l.lbl, count(*) AS c
      FROM ud u JOIN lp0 l ON u.dst = l.node
      GROUP BY u.src, l.lbl
      UNION ALL SELECT node, lbl, 1 FROM lp0
    ), ag1 AS (
      SELECT node, lbl, CAST(sum(c) AS BIGINT) AS c
      FROM nb1 GROUP BY node, lbl
    ), lp1 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM ag1)
      WHERE rn = 1
    ),
    nb2 AS (
      SELECT u.src AS node, l.lbl, count(*) AS c
      FROM ud u JOIN lp1 l ON u.dst = l.node
      GROUP BY u.src, l.lbl
      UNION ALL SELECT node, lbl, 1 FROM lp1
    ), ag2 AS (
      SELECT node, lbl, CAST(sum(c) AS BIGINT) AS c
      FROM nb2 GROUP BY node, lbl
    ), lp2 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM ag2)
      WHERE rn = 1
    ),
    nb3 AS (
      SELECT u.src AS node, l.lbl, count(*) AS c
      FROM ud u JOIN lp2 l ON u.dst = l.node
      GROUP BY u.src, l.lbl
      UNION ALL SELECT node, lbl, 1 FROM lp2
    ), ag3 AS (
      SELECT node, lbl, CAST(sum(c) AS BIGINT) AS c
      FROM nb3 GROUP BY node, lbl
    ), lp3 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM ag3)
      WHERE rn = 1
    )
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) FILTER (WHERE node % 2 = 0) AS BIGINT)
             AS n_customers,
           CAST(count(*) FILTER (WHERE node % 2 = 1) AS BIGINT)
             AS n_suppliers,
           CAST(row_number() OVER (ORDER BY count(*) DESC, lbl) AS INT)
             AS rnk
    FROM lp3 GROUP BY lbl ORDER BY rnk LIMIT 20
    """,
    doc="Community detection by synchronous label propagation "
    "(Raghavan et al. 2007) over the undirected customer-supplier "
    "purchase graph — 3 rounds, labels init to node ids, each node "
    "adopting the most frequent label among its neighbors plus its "
    "own (the self-vote that damps sync-LPA's period-2 oscillation on "
    "bipartite structure) with a "
    "(count desc, label asc) tie-break. The deterministic synchronous "
    "variant is chosen deliberately: async/random-order LPA is "
    "run-order dependent and unauditable at scale, while this one is "
    "bit-identical on any engine or partition layout, so the oracle "
    "unrolls the SAME 3 rounds as chained CTEs (the pagerank "
    "discipline applied to a second graph algorithm class). Per round "
    "everything shuffles on the node key: one edge-vs-labels "
    "equi-join, one (node,label) grouped count, one per-node top-1 "
    "window (WindowGroupLimit). Top-20 communities with member/side "
    "censuses returned.",
    tags=("graph", "orders", "lineitem"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.operators.graph import label_propagation

    # every-11th-order subgraph: the full purchase graph is dense
    # enough that 3 sync rounds collapse it to 2 labels (a correct but
    # thin check); the sparser graph keeps ~27 communities alive, so
    # the oracle constrains real structure
    o = tables.load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 11 == 0
    )
    li = tables.load(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    labels = label_propagation(edges, iters=3)
    return (
        labels.groupBy(F.col("lbl").cast("bigint").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.when(F.col("node") % 2 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_customers"),
            F.sum(F.when(F.col("node") % 2 == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_suppliers"),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.col("n_members").desc(), F.col("community")))
            .cast("int"),
        )
        .filter(F.col("rnk") <= 20)
        .orderBy("rnk")
    )


def _kcore_round_sql(r: int, k: int) -> str:
    """One peel round of the k-core oracle: degrees over e{r-1}, keep
    nodes with degree >= k, keep edges with both endpoints kept.
    Every CTE is MATERIALIZED (DuckDB hint): each round references its
    predecessor ~3 times, so inlined CTEs re-evaluate the whole chain
    per reference — exponential (3^rounds) blowup measured as a
    multi-minute hang at sf0.01 before the hint."""
    return f"""
    d{r} AS MATERIALIZED (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM e{r - 1}
        UNION ALL
        SELECT b AS node FROM e{r - 1}
      ) GROUP BY node
    ), a{r} AS MATERIALIZED (
      SELECT node FROM d{r} WHERE deg >= {k}
    ), e{r} AS MATERIALIZED (
      SELECT a, b FROM e{r - 1}
      WHERE a IN (SELECT node FROM a{r}) AND b IN (SELECT node FROM a{r})
    )"""


_KCORE_K = 4
_KCORE_ROUNDS = 6


@register(
    "graph_kcore",
    oracle="""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_quantity <= 2
    ), """
    + ",".join(_kcore_round_sql(r, _KCORE_K) for r in range(1, _KCORE_ROUNDS + 1))
    + """
    SELECT * FROM ("""
    + " UNION ALL ".join(
        f"""
      SELECT CAST({r} AS INT) AS round,
             (SELECT CAST(count(*) AS BIGINT) FROM a{r}) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"""
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    + """
    ) ORDER BY round
    """,
    doc="k-core decomposition by synchronous peeling on the bipartite "
    "customer-supplier graph (same even/odd node encoding as "
    "graph_pagerank), sparsified to small-quantity purchases so the "
    "peel actually CASCADES (the full graph is so dense every node "
    "sits in the 20-core and round 1 is already the fixpoint — "
    "measured before choosing l_quantity<=2, k=4, which peels "
    "222 -> 170 nodes over 6 rounds at sf0.01): 6 fixed rounds of "
    "degree-filter-shrink emitting the per-round census (nodes and "
    "edges surviving). The census freezes once the peel hits the "
    "4-core fixpoint, so the output shows trajectory AND convergence. "
    "Peeling is THE scalable core-extraction algorithm "
    "(each round: one degree aggregation + two node-keyed semi-joins "
    "on a monotonically shrinking edge set — no per-node priority "
    "queue, which is inherently sequential and cannot distribute); "
    "fixed synchronous rounds make it exactly replayable as a chained "
    "CTE in the oracle. Same loop hygiene as the other fixed-point "
    "operators: eager per-round localCheckpoint, predecessor frames "
    "unpersisted. Used in pipeline practice to find the dense "
    "interaction core (spam rings, power-user subgraphs) that "
    "degree-threshold filters alone miss.",
    tags=("graph", "orders", "lineitem"),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.operators.graph import kcore_peel

    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") <= 2)
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _bfs_round_sql(d: int) -> str:
    """One BFS expansion: frontier f{d} = unvisited neighbors of
    f{d-1}; visited vis{d} accumulates."""
    return f"""f{d} AS MATERIALIZED (
      SELECT DISTINCT und.b AS node
      FROM und JOIN f{d - 1} ON und.a = f{d - 1}.node
      WHERE und.b NOT IN (SELECT node FROM vis{d - 1})
    ), vis{d} AS MATERIALIZED (
      SELECT node FROM vis{d - 1} UNION ALL SELECT node FROM f{d}
    )"""


_BFS_ROUNDS = 3


@register(
    "graph_bfs_layers",
    oracle="""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_quantity <= 2
    ), und AS MATERIALIZED (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), f0 AS MATERIALIZED (
      SELECT DISTINCT a AS node FROM e0 WHERE (a // 2) % 40 = 0
    ), vis0 AS MATERIALIZED (
      SELECT node FROM f0
    ), """
    + ", ".join(_bfs_round_sql(d) for d in range(1, _BFS_ROUNDS + 1))
    + """
    SELECT * FROM ("""
    + " UNION ALL ".join(
        f"""
      SELECT CAST({d} AS INT) AS dist,
             (SELECT CAST(count(*) AS BIGINT) FROM f{d}) AS n_nodes"""
        for d in range(0, _BFS_ROUNDS + 1)
    )
    + """
    ) ORDER BY dist
    """,
    doc="Multi-source BFS layer census on the sparsified bipartite "
    "purchase graph (same l_quantity<=2 edge set as graph_kcore; "
    "seeds = every 40th customer): nodes FIRST reached at distance "
    "0..3. The reachability twin of sql_recursive_cte's hierarchy "
    "walk, in the distributable frontier-expansion form: per round "
    "one frontier-to-edges semi-join + DISTINCT + anti-join against "
    "the visited set, all node-keyed, with the frontier shrinking as "
    "the component saturates (the census SHOWS the saturation "
    "curve). Fixed synchronous rounds make the oracle an unrolled "
    "MATERIALIZED CTE chain; loop hygiene (eager localCheckpoint, "
    "unpersist) as PageRank/LPA/k-core. At 100 TB each round is two "
    "key shuffles over a frontier bounded by the true distance "
    "layer, never the whole graph.",
    tags=("graph", "orders", "lineitem"),
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.operators.graph import bfs_layers

    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") <= 2)
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .filter(F.expr("(node div 2) % 40 = 0"))
        .distinct()
    )
    return bfs_layers(edges, seeds, rounds=_BFS_ROUNDS)
