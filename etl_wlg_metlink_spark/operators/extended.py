"""Extended function-surface catalog: the scalar/aggregate families a
user of a general analytics engine expects beyond the reference's own
operators (SURVEY.md §2.5 audit rows) — percentiles, pivot, string and
date function packs, map functions, and the Arrow/Pandas UDF paths
(scalar-batch, grouped-agg, applyInPandas) each pinned against a
DuckDB oracle so even the Python-worker lane is value-checked.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from etl_wlg_metlink_spark.tables import load, load_spread


def x1_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont`). The approximate sketch variant
    (percentile_approx / t-digest) is the 100 TB path but is
    engine-specific, so the checked query is exact."""
    li = load_spread(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
    )


def x11_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: `percentile_approx` keeps a bounded
    sketch per group, where exact `percentile` buffers every value in
    the aggregation buffer (x1 — fine for the oracle, an OOM at scale).
    Sketches are engine-specific, so like r12 the query validates
    itself: the approx answer must sit within 1% of exact, and the
    driver checks the boolean plus the exact value."""
    # exact percentile buffers every value per group; a respread of
    # the scan was tried (r16) and measured 1.32x slower in the r17
    # paired probe — the single aggregation pass doesn't amortize the
    # extra exchange
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_p50"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_p50"
        ),
    )
    return agg.select(
        "l_returnflag",
        F.round("exact_p50", 4).alias("exact_p50"),
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            / F.col("exact_p50")
            < 0.01
        ).alias("approx_within_1pct"),
    )


def x2_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (orderstatus × orderpriority count matrix). Explicit value
    list — at scale an unlisted pivot forces an extra distinct pass."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority",
               ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        .count()
        .select(
            "o_orderstatus",
            F.col("1-URGENT").alias("urgent"),
            F.col("2-HIGH").alias("high"),
            F.col("3-MEDIUM").alias("medium"),
            F.col("4-NOT SPECIFIED").alias("notspec"),
            F.col("5-LOW").alias("low"),
        )
    )


def x3_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function pack: regexp_replace / translate / lpad / rpad /
    substring / locate / repeat / reverse / trim on part names."""
    part = load(spark, sf_dir, "part")
    name = F.col("p_name")
    return part.select(
        "p_partkey",
        F.regexp_replace(name, "[aeiou]", "_").alias("devoweled"),
        F.translate(name, "abc", "xyz").alias("translated"),
        F.lpad(F.col("p_brand"), 12, "*").alias("brand_lpad"),
        F.rpad(F.col("p_brand"), 12, "*").alias("brand_rpad"),
        F.substring(name, 2, 5).alias("sub25"),
        F.locate("a", name).cast("long").alias("first_a"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.length(F.trim(name)).cast("long").alias("trimmed_len"),
    )


def x4_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time pack on o_orderdate: extract fields, truncate, offset,
    diff — the everyday time-dimension toolkit."""
    orders = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("long").alias("yr"),
        F.month(d).cast("long").alias("mo"),
        F.dayofmonth(d).cast("long").alias("dom"),
        F.dayofweek(d).cast("long").alias("dow_sun1"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyy-MM-dd").alias("plus30"),
        F.datediff(F.lit("1998-12-31").cast("date"), d.cast("date"))
        .cast("long")
        .alias("days_to_end"),
    )


def x5_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/JSON functions: from_json into a typed map, map_keys /
    element_at, exercised on the events.props JSON column."""
    events = load(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,int>")
    return events.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("keys"),
        F.element_at(m, "k").cast("long").alias("k_value"),
        F.size(m).cast("long").alias("n_keys"),
    )


def x6_pandas_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched scalar Pandas UDF (the sanctioned Python lane —
    never row-at-a-time): a haversine-ish numeric transform the
    built-ins could also express, chosen so the oracle can check the
    UDF machinery itself."""

    @pandas_udf("double")
    def log_price(v: pd.Series) -> pd.Series:
        import numpy as np

        return np.log1p(v)

    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(log_price(F.col("l_extendedprice")), 6).alias("log_price"),
    )


def x7_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate Pandas UDF: discount-weighted mean price per
    returnflag (Arrow transfer, one pandas Series per group per
    partition, combined by Spark's agg machinery)."""

    @pandas_udf("double")
    def wmean(price: pd.Series, disc: pd.Series) -> float:
        w = 1.0 - disc
        return float((price * w).sum() / w.sum())

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wmean(F.col("l_extendedprice"), F.col("l_discount")), 4).alias(
            "wmean_price"
        )
    )


def x8_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas: per-user ordered session math in pandas (cumsum
    of value along the event timeline) — the custom-stateful-operator
    escape hatch; the oracle is the equivalent running-sum window."""

    def cumsum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        pdf["running_value"] = pdf["value"].cumsum().round(4)
        return pdf[["user_id", "event_id", "running_value"]]

    events = load(spark, sf_dir, "events")
    # Explicit hash repartition by the grouping key: AQE would coalesce
    # the groupBy exchange to a couple of partitions (the data is tiny
    # in bytes), serializing thousands of per-group pandas calls onto
    # 2-3 cores. A fixed-width repartition satisfies applyInPandas's
    # required distribution, so no second exchange is inserted and the
    # Python stage keeps full parallelism.
    events = events.repartition(
        spark.sparkContext.defaultParallelism, "user_id"
    )
    return events.groupBy("user_id").applyInPandas(
        cumsum, schema="user_id long, event_id long, running_value double"
    )


def x9_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function lane): tokenize documents
    into (doc_id, pos, word) rows — semantically posexplode(split()),
    done via the UDTF mechanism so the lane itself is oracle-checked.
    Used only where a set-returning function genuinely can't be a
    built-in; this one could, which is exactly why it's verifiable."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string")
    class Tokenize:
        def eval(self, text: str):  # noqa: D102
            if text:
                for i, w in enumerate(text.split(" ")):
                    yield i, w

    spark.udtf.register("tokenize_x9", Tokenize)
    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_x9")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.word
        FROM docs_x9 d, LATERAL tokenize_x9(d.text) t
        WHERE t.word <> ''
        """
    )


def x10_array_hofs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function pack over the embedding column:
    transform / filter / exists / forall / aggregate / slice /
    sort_array — the lambda-expression surface Catalyst evaluates
    without Python."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.round(
            F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("vec_sum"),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        F.exists(e, lambda x: x > 2.5).alias("has_gt25"),
        F.forall(e, lambda x: F.abs(x) < 10).alias("all_small"),
        F.round(F.element_at(F.slice(F.sort_array(e, False), 1, 1), 1), 4).alias(
            "max_comp"
        ),
    )


def x12_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of x2): wide per-flag quantity sums
    back to long (metric, value) rows via DataFrame.unpivot (SQL
    stack())."""
    li = load(spark, sf_dir, "lineitem")
    # all three metrics in one decimal scale so unpivot's value column
    # stays exact decimal (mixed double/decimal would coerce to double
    # and reintroduce the sum-order knife edge — see r1/r2)
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("price"),
        F.sum(F.col("l_discount").cast("decimal(18,2)")).alias("disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price", "disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def x13_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured Variant type (Spark 4): parse_json once into a
    binary Variant, then typed path extraction — the schema-on-read
    lane for ragged JSON at scale (one parse, many cheap probes;
    contrast d12's string re-parsing per get_json_object)."""
    events = load(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return events.select(
        "event_id",
        F.variant_get(v, "$.k", "long").alias("k_value"),
        F.try_variant_get(v, "$.missing", "long").alias("missing_value"),
        F.schema_of_variant(v).alias("v_schema"),
    )


def x14_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe try_* arithmetic: division by zero, bad casts and
    out-of-range element_at yield NULL instead of failing the job —
    the error policy you want when one poisoned row must not kill a
    100 TB pass."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(F.col("l_extendedprice"), F.col("l_discount")), 4
        ).alias("price_per_disc"),
        F.try_element_at(
            F.array(F.col("l_returnflag")), (F.col("l_linenumber") % 3).cast("int") + 1
        ).alias("maybe_flag"),
        # cast decimal(1,0) -> double: the oracle's NULL::DOUBLE twin (and
        # the driver's pandas-side hash) treats decimal as a distinct lane
        F.try_to_number(F.col("l_returnflag"), F.lit("9"))
        .cast("double")
        .alias("flag_as_num"),
    )


def x15_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: each
    customer joins its own top-2 orders by price — the "per-row
    subquery" surface (ANSI lateral derived table). Catalyst
    decorrelates this into a window rank over one orders shuffle, NOT
    a per-customer probe loop, which is exactly the rewrite you want
    at 100 TB: cost is one shuffle of orders on custkey + a rank
    filter, independent of customer count. Customers with no orders
    drop out (inner lateral semantics — ≈ 1/3 of TPC-H customers)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("cust_x15")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_x15")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, l.o_orderkey,
               CAST(l.o_totalprice AS DECIMAL(18,2)) AS o_price
        FROM cust_x15 c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_x15
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) l
        """
    )


X16_MIN_PRICE = 100.0  # named parameter fed via spark.sql(args=...)


def x16_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (`|>`) + parameterized SQL: the linear
    scan→filter→aggregate→order flow written as a pipeline instead of
    inside-out nesting, with the filter threshold bound as a NAMED
    PARAMETER (spark.sql(..., args={...}) — no string interpolation,
    so a user-supplied threshold can't inject SQL). Pipe stages lower
    to the identical Catalyst plan as the nested form — surface
    syntax, same optimizer — which the shared oracle verifies."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_x16")
    return spark.sql(
        """
        FROM orders_x16
        |> WHERE o_totalprice > :min_price
        |> EXTEND CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(price) AS DECIMAL(18,2)) AS total_price
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """,
        args={"min_price": X16_MIN_PRICE},
    )


X17_LOW, X17_MID = 20000.0, 45000.0


def x17_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-defined functions (CREATE TEMPORARY FUNCTION ...
    RETURN expr): the discounted-price formula and a price-band
    classifier declared ONCE as catalog-level SQL UDFs and reused by
    name. Unlike Python UDFs these are not black boxes — Catalyst
    inlines the body at analysis time, so the query plans (and
    optimizes: codegen, pushdown, constant folding) exactly as if the
    expressions were written inline, which the expanded-SQL oracle
    verifies. This is the right home for shared business formulas at
    scale: one definition, zero serialization cost, full optimizer
    visibility."""
    load_spread(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_x17"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION x17_disc_price(
            p DOUBLE, d DOUBLE) RETURNS DECIMAL(18,4)
        RETURN CAST(CAST(p AS DECIMAL(18,2))
                    * (1 - CAST(d AS DECIMAL(18,2))) AS DECIMAL(18,4))
        """
    )
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION x17_price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < {X17_LOW} THEN 'low'
                    WHEN p < {X17_MID} THEN 'mid'
                    ELSE 'high' END
        """
    )
    return spark.sql(
        """
        SELECT x17_price_band(l_extendedprice) AS band,
               COUNT(*) AS n_lines,
               CAST(SUM(x17_disc_price(l_extendedprice, l_discount))
                    AS DECIMAL(18,4)) AS revenue
        FROM lineitem_x17
        GROUP BY band
        ORDER BY band
        """
    )


def x18_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: Pearson correlation, population
    covariance / variance / stddev of event values against hour-of-day
    per event type — the profiling pass a feature store runs before
    modeling. All five are one-pass streaming aggregates (sum of
    products form) with map-side partials; DuckDB implements the same
    textbook definitions, so the oracle matches at ROUND(4) (double
    accumulation differs across engines only at ~1e-12 relative)."""
    events = load(spark, sf_dir, "events")
    hour = F.hour("ts").cast("double")
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.corr("value", hour), 4).alias("corr_value_hour"),
            F.round(F.covar_pop("value", hour), 4).alias("covar_value_hour"),
            F.round(F.stddev_pop("value"), 4).alias("stddev_value"),
            F.round(F.var_pop("value"), 4).alias("var_value"),
        )
        .orderBy("event_type")
    )


def x19_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the lowest-overhead Python batch lane: the worker
    receives raw pyarrow RecordBatches (no pandas conversion at all,
    the copy x6-x8 pay on top of Arrow transfer) and yields batches
    back. The transform (UTF-8 byte length and an order-independent
    per-text checksum) runs in pyarrow compute kernels, C++ under the
    hood. The right lane for byte-level work on multimodal blobs where
    pandas' object boxing would dominate; the oracle replicates both
    columns in SQL, checking the Arrow machinery itself.

    Scale shape: map-only (batch in, batch out, 1:1 partition
    streaming — no state, no shuffle); the small final agg groups on
    lang."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def byte_stats(batches):
        for batch in batches:
            text = batch.column("text")
            nbytes = pc.binary_length(pc.cast(text, pa.binary()))
            # cheap order-independent checksum: sum of codepoints
            # mod 251 per text (codepoints, not bytes, so the DuckDB
            # twin is unicode()-expressible)
            arr = text.to_pylist()
            # degenerate-row guard: None/empty text checksums to 0; the
            # oracle spells the same rule as an explicit empty-text CASE
            # (DuckDB string_split('', '') is [''], whose unicode() is
            # -1, not an empty list — r16 adversarial corpus)
            chk = pa.array(
                [0 if not t else sum(ord(c) for c in t) % 251 for t in arr],
                type=pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), batch.column("lang"), nbytes, chk],
                names=["doc_id", "lang", "n_bytes", "checksum"],
            )

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    mapped = docs.mapInArrow(
        byte_stats,
        "doc_id long, lang string, n_bytes int, checksum long",
    )
    return (
        mapped.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("checksum").alias("checksum_sum"),
        )
        .orderBy("lang")
    )


QUERIES = {
    "x1_percentiles": x1_percentiles,
    "x2_pivot": x2_pivot,
    "x3_string_funcs": x3_string_funcs,
    "x4_date_funcs": x4_date_funcs,
    "x5_map_funcs": x5_map_funcs,
    "x6_pandas_scalar_udf": x6_pandas_scalar_udf,
    "x7_pandas_grouped_agg": x7_pandas_grouped_agg,
    "x8_apply_in_pandas": x8_apply_in_pandas,
    "x9_python_udtf": x9_python_udtf,
    "x10_array_hofs": x10_array_hofs,
    "x11_approx_percentile": x11_approx_percentile,
    "x12_unpivot": x12_unpivot,
    "x13_variant_json": x13_variant_json,
    "x14_try_functions": x14_try_functions,
    "x15_lateral_topk": x15_lateral_topk,
    "x16_pipe_syntax": x16_pipe_syntax,
    "x17_sql_udf": x17_sql_udf,
    "x18_stats_profile": x18_stats_profile,
    "x19_map_in_arrow": x19_map_in_arrow,
}

ORACLE = {
    "x15_lateral_topk": """
        SELECT c.c_custkey, c.c_name, l.o_orderkey,
               CAST(l.o_totalprice AS DECIMAL(18,2)) AS o_price
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) l
    """,
    "x1_percentiles": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
               ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        FROM lineitem GROUP BY l_returnflag
    """,
    "x2_pivot": """
        SELECT o_orderstatus,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
                    AS BIGINT) AS urgent,
               CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END)
                    AS BIGINT) AS high,
               CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END)
                    AS BIGINT) AS medium,
               CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END)
                    AS BIGINT) AS notspec,
               CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END)
                    AS BIGINT) AS low
        FROM orders GROUP BY o_orderstatus
    """,
    "x3_string_funcs": """
        SELECT p_partkey,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
               translate(p_name, 'abc', 'xyz') AS translated,
               lpad(p_brand, 12, '*') AS brand_lpad,
               rpad(p_brand, 12, '*') AS brand_rpad,
               substr(p_name, 2, 5) AS sub25,
               COALESCE(strpos(p_name, 'a'), 0) AS first_a,
               reverse(p_brand) AS brand_rev,
               length(trim(p_name)) AS trimmed_len
        FROM part
    """,
    "x4_date_funcs": """
        SELECT o_orderkey,
               year(o_orderdate) AS yr,
               month(o_orderdate) AS mo,
               day(o_orderdate) AS dom,
               dayofweek(o_orderdate) + 1 AS dow_sun1,
               strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                 AS month_start,
               strftime(o_orderdate::DATE + INTERVAL 30 DAY, '%Y-%m-%d')
                 AS plus30,
               datediff('day', o_orderdate::DATE, DATE '1998-12-31')
                 AS days_to_end
        FROM orders
    """,
    "x5_map_funcs": """
        SELECT event_id,
               COALESCE(array_to_string(json_keys(props), ','), '') AS keys,
               CAST(props->>'k' AS BIGINT) AS k_value,
               len(json_keys(props)) AS n_keys
        FROM events
    """,
    "x6_pandas_scalar_udf": """
        SELECT l_orderkey, l_linenumber,
               ROUND(ln(1 + l_extendedprice), 6) AS log_price
        FROM lineitem
    """,
    "x7_pandas_grouped_agg": """
        SELECT l_returnflag,
               ROUND(SUM(l_extendedprice * (1 - l_discount))
                     / SUM(1 - l_discount), 4) AS wmean_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "x8_apply_in_pandas": """
        SELECT user_id, event_id,
               ROUND(SUM(value) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING), 4) AS running_value
        FROM events
    """,
    "x13_variant_json": """
        SELECT event_id,
               CAST(props->>'k' AS BIGINT) AS k_value,
               NULL::BIGINT AS missing_value,
               CASE WHEN len(json_keys(props)) = 0 THEN 'OBJECT<>'
                    ELSE 'OBJECT<k: BIGINT>' END AS v_schema
        FROM events
    """,
    "x14_try_functions": """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_discount = 0 THEN NULL
                    ELSE ROUND(l_extendedprice / l_discount, 4) END
                 AS price_per_disc,
               CASE WHEN (l_linenumber % 3) + 1 = 1 THEN l_returnflag
                    ELSE NULL END AS maybe_flag,
               NULL::DOUBLE AS flag_as_num
        FROM lineitem
    """,
    "x12_unpivot": """
        WITH wide AS (
          SELECT l_returnflag,
                 SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS price,
                 SUM(CAST(l_discount AS DECIMAL(18,2))) AS disc
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, metric, value
        FROM wide UNPIVOT (value FOR metric IN (qty, price, disc))
    """,
    "x11_approx_percentile": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
               TRUE AS approx_within_1pct
        FROM lineitem GROUP BY l_returnflag
    """,
    "x9_python_udtf": """
        SELECT doc_id, CAST(idx - 1 AS INT) AS pos, word
        FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                 unnest(generate_series(1, len(string_split(text, ' ')))) AS idx
          FROM documents
        )
        WHERE word <> ''
    """,
    "x10_array_hofs": """
        SELECT vec_id,
               ROUND(list_sum(list_transform(embedding, x -> x::DOUBLE)), 4)
                 AS vec_sum,
               len(list_filter(embedding, x -> x > 0)) AS n_pos,
               len(list_filter(embedding, x -> x > 2.5)) > 0 AS has_gt25,
               len(list_filter(embedding, x -> abs(x) >= 10)) = 0 AS all_small,
               ROUND(list_max(list_transform(embedding, x -> x::DOUBLE)), 4)
                 AS max_comp
        FROM embeddings
    """,
}

ORACLE["x16_pipe_syntax"] = f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS total_price
    FROM orders
    WHERE o_totalprice > {X16_MIN_PRICE}
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


ORACLE["x17_sql_udf"] = f"""
    SELECT CASE WHEN l_extendedprice < {X17_LOW} THEN 'low'
                WHEN l_extendedprice < {X17_MID} THEN 'mid'
                ELSE 'high' END AS band,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS revenue
    FROM lineitem
    GROUP BY band
    ORDER BY band
"""


ORACLE["x18_stats_profile"] = """
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(corr(value, CAST(hour(ts) AS DOUBLE)), 4)
             AS corr_value_hour,
           ROUND(covar_pop(value, CAST(hour(ts) AS DOUBLE)), 4)
             AS covar_value_hour,
           ROUND(stddev_pop(value), 4) AS stddev_value,
           ROUND(var_pop(value), 4) AS var_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


ORACLE["x19_map_in_arrow"] = """
    WITH b AS (
      SELECT doc_id, lang,
             CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             CASE WHEN text IS NULL OR text = '' THEN 0
                  ELSE list_sum(list_transform(string_split(text, ''),
                       c -> unicode(c))) % 251 END AS checksum
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(checksum) AS BIGINT) AS checksum_sum
    FROM b GROUP BY lang ORDER BY lang
"""
