"""Distributed n-gram language model (Stupid Backoff) and the
perplexity-style fluency filter built on it.

CCNet-grade corpus pipelines score every document with a cheap n-gram
LM and drop the gibberish tail (Wenzek et al. 2019 use KenLM; Brants
et al. 2007, "Large Language Models in Machine Translation", showed
that at distributed scale the *Stupid Backoff* score

    S(w | ctx)  =  count(ctx·w) / count(ctx)          if count(ctx·w) > 0
                =  0.4 · S(w | shorter ctx)           otherwise

needs no normalization pass and trains as plain MapReduce counts —
exactly a Spark groupBy). Training here is three partial-aggregated
groupBys (uni/bi/trigram counts); scoring is a lag-window projection
plus five hash joins against the count tables, all JVM-side — no
Python in the plan.

100 TB shape: the count tables are the model. They shuffle once at
train time (map-side combined, so the shuffle volume is the distinct
n-gram vocabulary, not the corpus) and can be pruned with
``min_count`` — the standard count-cutoff that keeps the model
orders of magnitude smaller than the corpus so the scoring joins
stay cheap; at cluster scale the pruned tables are broadcast-sized
for most corpora. Scoring itself never aggregates across documents
except the final per-document average.

Cross-engine float contract (see SURVEY.md §6 / memory notes): each
per-position ``ln S`` is rounded to 6 dp before the per-document
mean, and the mean is rounded to 4 dp — integers (backoff-level hit
counts) carry the exact signal, the rounded score carries the
ranking.

Reference relation: the reference's per-column sampling + DLP
inspection (DlpSampleIdentify, SURVEY.md §2.4) plays the same role —
a bounded model of the data deciding what flows onward; this is the
text-corpus analogue with the model trained in-engine.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from auto_data_tokenize_spark.operators.textstats import (
    duckdb_ws_tokens_sql,  # noqa: F401  (re-export convenience)
)

__all__ = [
    "NGramLM",
    "train_stupid_backoff",
    "score_stupid_backoff",
    "duckdb_lm_counts_sql",
    "duckdb_lm_score_sql",
]

BACKOFF = 0.4  # Brants et al. 2007's published constant
UNSEEN_COUNT = 0.5  # half-count for out-of-vocabulary unigrams


def _tokens(text_col: str) -> "F.Column":
    """The token ARRAY behind textstats.ws_tokens_expr's count —
    same trim + ``\\s+`` contract so LM tokens == token counts."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


@dataclass
class NGramLM:
    """Count tables of a trained Stupid Backoff model. ``uni`` =
    (gram, cnt) single tokens; ``bi``/``tri`` = space-joined 2/3-gram
    strings; ``total`` = corpus token count (a 1-row DataFrame so the
    model stays fully distributed — nothing is collected)."""

    uni: DataFrame
    bi: DataFrame
    tri: DataFrame
    total: DataFrame


def _position_grams(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, w, ctx1, big, ctx2, tri): every token position with
    its backward context strings, via two lag windows per document —
    one narrow shuffle on the id, no Python."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    toks = docs.select(
        F.col(id_col),
        F.posexplode(_tokens(text_col)).alias("pos", "w"),
    )
    return (
        toks.withColumn("_p1", F.lag("w", 1).over(w))
        .withColumn("_p2", F.lag("w", 2).over(w))
        .select(
            id_col,
            "pos",
            "w",
            F.col("_p1").alias("ctx1"),
            F.when(
                F.col("_p1").isNotNull(),
                F.concat_ws(" ", "_p1", "w"),
            ).alias("big"),
            F.when(
                F.col("_p2").isNotNull(),
                F.concat_ws(" ", "_p2", "_p1"),
            ).alias("ctx2"),
            F.when(
                F.col("_p2").isNotNull(),
                F.concat_ws(" ", "_p2", "_p1", "w"),
            ).alias("tri"),
        )
    )


def train_stupid_backoff(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> NGramLM:
    """Train the count tables over ``docs``. ``min_count`` prunes
    every table to grams seen at least that often (the count cutoff
    that bounds model size at web scale; 1 = keep everything)."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    pos = _position_grams(docs, id_col, text_col)

    def counts(col: str) -> DataFrame:
        out = (
            pos.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).alias("gram"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        if min_count > 1:
            out = out.filter(F.col("cnt") >= min_count)
        return out

    total = pos.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return NGramLM(counts("w"), counts("big"), counts("tri"), total)


def score_stupid_backoff(
    docs: DataFrame,
    lm: NGramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Stupid Backoff fluency: (id, n_tokens, n_hit3,
    n_hit2, n_hit1, avg_logp). ``n_hitK`` counts positions resolved
    at order K (exact integers — the engine-independent signal);
    ``avg_logp`` is the rounded mean per-token ``ln S``. Positions 0
    and 1 start at the highest order their context allows with no
    backoff penalty."""
    pos = _position_grams(docs, id_col, text_col)

    def j(df: DataFrame, table: DataFrame, key: str, out: str) -> DataFrame:
        t = table.select(
            F.col("gram").alias(f"_{out}_g"), F.col("cnt").alias(out)
        )
        return df.join(
            t, F.col(key) == F.col(f"_{out}_g"), "left"
        ).drop(f"_{out}_g")

    scored = j(pos, lm.tri, "tri", "c3")
    scored = j(scored, lm.bi, "ctx2", "b2")
    scored = j(scored, lm.bi, "big", "c2")
    scored = j(scored, lm.uni, "ctx1", "b1")
    scored = j(scored, lm.uni, "w", "c1")
    scored = scored.crossJoin(F.broadcast(lm.total))

    # backoff level actually used at this position
    level = (
        F.when(F.col("c3").isNotNull(), F.lit(3))
        .when(F.col("c2").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
    )
    # penalty = BACKOFF per level backed off from the starting order
    # (min(pos + 1, 3) is the highest order position `pos` can use)
    start = F.least(F.col("pos") + 1, F.lit(3))
    penalty = F.pow(F.lit(BACKOFF), start - level)
    ratio = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("b2"))
        .when(F.col("c2").isNotNull(), F.col("c2") / F.col("b1"))
        .otherwise(
            F.coalesce(F.col("c1").cast("double"), F.lit(UNSEEN_COUNT))
            / F.col("total")
        )
    )
    logp = F.round(F.log(penalty * ratio), 6)
    return (
        scored.select(id_col, level.alias("_lvl"), logp.alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum((F.col("_lvl") == 3).cast("long")).alias("n_hit3"),
            F.sum((F.col("_lvl") == 2).cast("long")).alias("n_hit2"),
            F.sum((F.col("_lvl") == 1).cast("long")).alias("n_hit1"),
            F.round(F.avg("_lp"), 4).alias("avg_logp"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------


def _duck_positions(docs_sql: str, id_col: str, text_col: str) -> str:
    return f"""
        SELECT {id_col}, pos, w,
               lag(w, 1) OVER win AS ctx1,
               CASE WHEN lag(w, 1) OVER win IS NOT NULL
                    THEN lag(w, 1) OVER win || ' ' || w END AS big,
               CASE WHEN lag(w, 2) OVER win IS NOT NULL
                    THEN lag(w, 2) OVER win || ' ' || lag(w, 1) OVER win
                    END AS ctx2,
               CASE WHEN lag(w, 2) OVER win IS NOT NULL
                    THEN lag(w, 2) OVER win || ' ' || lag(w, 1) OVER win
                         || ' ' || w END AS tri
        FROM (
          SELECT {id_col},
                 generate_subscripts(_ts, 1) - 1 AS pos,
                 unnest(_ts) AS w
          FROM (SELECT {id_col},
                       string_split_regex(trim({text_col}), '\\s+') AS _ts
                FROM ({docs_sql}) d)
        ) t
        WINDOW win AS (PARTITION BY {id_col} ORDER BY pos)
    """


def duckdb_lm_counts_sql(
    docs_sql: str,
    order_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> str:
    """Count-table twin: ``order_col`` in {'w','big','tri'}."""
    return f"""
        SELECT {order_col} AS gram, CAST(count(*) AS BIGINT) AS cnt
        FROM ({_duck_positions(docs_sql, id_col, text_col)})
        WHERE {order_col} IS NOT NULL
        GROUP BY 1
        HAVING count(*) >= {min_count}
    """


def duckdb_lm_score_sql(
    docs_sql: str,
    train_sql: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> str:
    """Twin of train-then-score: score ``docs_sql`` with the model
    trained on ``train_sql`` (defaults to the same docs)."""
    tr = train_sql or docs_sql

    def cnts(col: str) -> str:
        return duckdb_lm_counts_sql(tr, col, id_col, text_col, min_count)

    return f"""
        WITH _pos AS ({_duck_positions(docs_sql, id_col, text_col)}),
        _uni AS ({cnts("w")}),
        _bi AS ({cnts("big")}),
        _tri AS ({cnts("tri")}),
        _tot AS (
          SELECT CAST(count(*) AS BIGINT) AS total
          FROM ({_duck_positions(tr, id_col, text_col)})
        ),
        _sc AS (
          SELECT p.{id_col},
                 CASE WHEN t3.cnt IS NOT NULL THEN 3
                      WHEN b.cnt IS NOT NULL THEN 2 ELSE 1 END AS lvl,
                 round(ln(
                   pow({BACKOFF},
                       least(p.pos + 1, 3)
                       - CASE WHEN t3.cnt IS NOT NULL THEN 3
                              WHEN b.cnt IS NOT NULL THEN 2 ELSE 1 END)
                   * CASE
                       WHEN t3.cnt IS NOT NULL
                         THEN t3.cnt / CAST(b2.cnt AS DOUBLE)
                       WHEN b.cnt IS NOT NULL
                         THEN b.cnt / CAST(u1.cnt AS DOUBLE)
                       ELSE coalesce(CAST(u.cnt AS DOUBLE), {UNSEEN_COUNT})
                            / (SELECT total FROM _tot)
                     END
                 ), 6) AS lp
          FROM _pos p
          LEFT JOIN _tri t3 ON p.tri = t3.gram
          LEFT JOIN _bi b2 ON p.ctx2 = b2.gram
          LEFT JOIN _bi b ON p.big = b.gram
          LEFT JOIN _uni u1 ON p.ctx1 = u1.gram
          LEFT JOIN _uni u ON p.w = u.gram
        )
        SELECT {id_col},
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hit3,
               CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hit2,
               CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hit1,
               round(avg(lp), 4) AS avg_logp
        FROM _sc
        GROUP BY 1
    """
