"""The 7 Gold aggregate tables, each in DataFrame AND Spark-SQL form.

Source of truth: `/root/reference/sql/gold/01..07_*.sql` (Athena/
Presto dialect). Dialect deltas handled here (SURVEY §7.5):
- `COUNT(x) FILTER (WHERE p)` → Spark SQL supports FILTER directly;
  the DataFrame form uses `count(when(p, x))` which has identical
  null-skipping semantics (NOT `sum(when(p,1))` — counts must skip
  NULL x, sql/gold/01:37-46).
- `VARCHAR` → `STRING`; `NULLIF` is native.
- CTAS + purge Lambda → `write.mode("overwrite").partitionBy("year")`
  (SURVEY §4: overwrite subsumes the whole purge dance).

Scale notes: all 7 are hash aggregates with map-side partial agg;
the 4 fact⋈dim joins broadcast the `sorteos` side (1 row/draw —
orders of magnitude smaller than premios). Gold tables partitioned by
`year` where the reference partitions (05/06/07) for downstream
partition pruning. `build_all` overlaps the 7 writes (each table its
own directory and jobs); `plans.pipeline` writes its `_silver_draws`
marker only after all of them have succeeded.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lottery_end_to_end_etl_data_pipeline_spark.functions.expressions import safe_pct, terminacion

#: gold table name → (builder, partition cols) — partitioning mirrors
#: sql/gold (05/06/07 partitioned by year, sql/gold/05:24 etc.).
GOLD_PARTITIONS = {
    "gold_draw_summary": [],
    "gold_winning_number_frequency": [],
    "gold_terminations": [],
    "gold_letters_distribution": [],
    "gold_geo_winnings": ["year"],
    "gold_vendor_leaderboard": ["year"],
    "gold_time_series": ["year"],
}


def gold_draw_summary(premios: DataFrame, sorteos: DataFrame) -> DataFrame:
    """sql/gold/01_gold_draw_summary.sql:33-50 — per-draw rollup with
    FILTER-counts and a NULLIF-guarded sold percentage."""
    sold = F.col("vendedor") != "NO VENDIDO"
    joined = sorteos.join(premios.drop("year", "sorteo"), "numero_sorteo", "inner")
    agg = joined.groupBy("numero_sorteo", "tipo_sorteo", "fecha_sorteo").agg(
        F.count("numero_premiado").alias("total_premios"),
        F.count(F.when(sold, F.col("numero_premiado"))).alias("premios_vendidos"),
        F.count(F.when(~sold, F.col("numero_premiado"))).alias("premios_no_vendidos"),
        F.sum("monto").alias("total_monto"),
        F.sum(F.when(sold, F.col("monto"))).alias("monto_pagado"),
        F.max("monto").alias("top_premio"),
    )
    return agg.select(
        "numero_sorteo",
        "tipo_sorteo",
        "fecha_sorteo",
        "total_premios",
        "premios_vendidos",
        "premios_no_vendidos",
        safe_pct("premios_vendidos", "total_premios").alias("pct_vendido"),
        "total_monto",
        "monto_pagado",
        "top_premio",
    )


def gold_winning_number_frequency(premios: DataFrame, sorteos: DataFrame | None = None) -> DataFrame:
    """sql/gold/02:22-29."""
    return (
        premios.filter(F.col("numero_premiado").isNotNull())
        .groupBy("numero_premiado")
        .agg(
            F.count(F.lit(1)).alias("veces_ganador"),
            F.sum("monto").alias("total_monto"),
            F.max("monto").alias("max_monto"),
        )
    )


def gold_terminations(premios: DataFrame, sorteos: DataFrame | None = None) -> DataFrame:
    """sql/gold/03:27-33 — group by zero-padded `% 100` termination."""
    return (
        premios.filter(F.col("numero_premiado").isNotNull())
        .groupBy(terminacion("numero_premiado").alias("terminacion"))
        .agg(
            F.count(F.lit(1)).alias("veces_ganador"),
            F.sum("monto").alias("total_monto"),
        )
    )


def gold_letters_distribution(premios: DataFrame, sorteos: DataFrame | None = None) -> DataFrame:
    """sql/gold/04:22-28."""
    return (
        premios.filter(F.col("letras").isNotNull())
        .groupBy("letras")
        .agg(
            F.count(F.lit(1)).alias("veces_ganador"),
            F.sum("monto").alias("total_monto"),
        )
    )


def gold_geo_winnings(premios: DataFrame, sorteos: DataFrame) -> DataFrame:
    """sql/gold/05:26-37 — (departamento, ciudad, year) rollup of sold
    prizes; broadcast the 1-row-per-draw sorteos dim."""
    dim = F.broadcast(
        sorteos.filter(F.col("fecha_sorteo").isNotNull()).select(
            "numero_sorteo", F.year("fecha_sorteo").alias("year")
        )
    )
    return (
        premios.drop("year", "sorteo")
        .filter(F.col("vendedor") != "NO VENDIDO")
        .join(dim, "numero_sorteo", "inner")
        .groupBy("departamento", "ciudad", "year")
        .agg(
            F.count(F.lit(1)).alias("num_ganadores"),
            F.sum("monto").alias("total_monto"),
        )
    )


def gold_vendor_leaderboard(premios: DataFrame, sorteos: DataFrame) -> DataFrame:
    """sql/gold/06:27-38 — NULL and 'NO VENDIDO' vendors excluded."""
    dim = F.broadcast(
        sorteos.filter(F.col("fecha_sorteo").isNotNull()).select(
            "numero_sorteo", F.year("fecha_sorteo").alias("year")
        )
    )
    return (
        premios.drop("year", "sorteo")
        .filter(F.col("vendedor").isNotNull() & (F.col("vendedor") != "NO VENDIDO"))
        .join(dim, "numero_sorteo", "inner")
        .groupBy("vendedor", "year")
        .agg(
            F.count(F.lit(1)).alias("num_premios"),
            F.sum("monto").alias("total_monto"),
        )
    )


def gold_time_series(premios: DataFrame, sorteos: DataFrame) -> DataFrame:
    """sql/gold/07:27-37 — monthly grain; COUNT(DISTINCT draw)."""
    dim = F.broadcast(
        sorteos.filter(F.col("fecha_sorteo").isNotNull()).select(
            "numero_sorteo",
            F.year("fecha_sorteo").alias("year"),
            F.month("fecha_sorteo").alias("month"),
        )
    )
    return (
        premios.drop("year", "sorteo")
        .join(dim, "numero_sorteo", "inner")
        .groupBy("year", "month")
        .agg(
            F.countDistinct("numero_sorteo").alias("num_sorteos"),
            F.count("numero_premiado").alias("num_premios"),
            F.sum("monto").alias("total_monto"),
        )
        .select("month", "num_sorteos", "num_premios", "total_monto", "year")
    )


GOLD_BUILDERS = {
    "gold_draw_summary": gold_draw_summary,
    "gold_winning_number_frequency": gold_winning_number_frequency,
    "gold_terminations": gold_terminations,
    "gold_letters_distribution": gold_letters_distribution,
    "gold_geo_winnings": gold_geo_winnings,
    "gold_vendor_leaderboard": gold_vendor_leaderboard,
    "gold_time_series": gold_time_series,
}


def gold_sql(premios_view: str = "silver_premios", sorteos_view: str = "silver_sorteos"
             ) -> dict[str, str]:
    """The same 7 queries as Spark-SQL strings (near-verbatim from
    sql/gold/*.sql; Presto→Spark deltas only). Also valid ANSI SQL for
    a DuckDB oracle — used by the test suite to cross-check the
    DataFrame builders."""
    p, s = premios_view, sorteos_view
    return {
        "gold_draw_summary": f"""
            SELECT
              s.numero_sorteo AS numero_sorteo,
              s.tipo_sorteo AS tipo_sorteo,
              s.fecha_sorteo AS fecha_sorteo,
              COUNT(p.numero_premiado) AS total_premios,
              COUNT(p.numero_premiado) FILTER (WHERE p.vendedor <> 'NO VENDIDO') AS premios_vendidos,
              COUNT(p.numero_premiado) FILTER (WHERE p.vendedor =  'NO VENDIDO') AS premios_no_vendidos,
              ROUND(
                100.0 * COUNT(p.numero_premiado) FILTER (WHERE p.vendedor <> 'NO VENDIDO')
                / NULLIF(COUNT(p.numero_premiado), 0)
              , 2) AS pct_vendido,
              SUM(p.monto) AS total_monto,
              SUM(p.monto) FILTER (WHERE p.vendedor <> 'NO VENDIDO') AS monto_pagado,
              MAX(p.monto) AS top_premio
            FROM {s} s
            JOIN {p} p ON p.numero_sorteo = s.numero_sorteo
            GROUP BY s.numero_sorteo, s.tipo_sorteo, s.fecha_sorteo
        """,
        "gold_winning_number_frequency": f"""
            SELECT
              p.numero_premiado AS numero_premiado,
              COUNT(*) AS veces_ganador,
              SUM(p.monto) AS total_monto,
              MAX(p.monto) AS max_monto
            FROM {p} p
            WHERE p.numero_premiado IS NOT NULL
            GROUP BY p.numero_premiado
        """,
        "gold_terminations": f"""
            SELECT
              LPAD(CAST(p.numero_premiado % 100 AS STRING), 2, '0') AS terminacion,
              COUNT(*) AS veces_ganador,
              SUM(p.monto) AS total_monto
            FROM {p} p
            WHERE p.numero_premiado IS NOT NULL
            GROUP BY LPAD(CAST(p.numero_premiado % 100 AS STRING), 2, '0')
        """,
        "gold_letters_distribution": f"""
            SELECT
              p.letras AS letras,
              COUNT(*) AS veces_ganador,
              SUM(p.monto) AS total_monto
            FROM {p} p
            WHERE p.letras IS NOT NULL
            GROUP BY p.letras
        """,
        "gold_geo_winnings": f"""
            SELECT
              p.departamento AS departamento,
              p.ciudad AS ciudad,
              COUNT(*) AS num_ganadores,
              SUM(p.monto) AS total_monto,
              YEAR(s.fecha_sorteo) AS year
            FROM {p} p
            JOIN {s} s ON p.numero_sorteo = s.numero_sorteo
            WHERE p.vendedor <> 'NO VENDIDO'
              AND s.fecha_sorteo IS NOT NULL
            GROUP BY p.departamento, p.ciudad, YEAR(s.fecha_sorteo)
        """,
        "gold_vendor_leaderboard": f"""
            SELECT
              p.vendedor AS vendedor,
              COUNT(*) AS num_premios,
              SUM(p.monto) AS total_monto,
              YEAR(s.fecha_sorteo) AS year
            FROM {p} p
            JOIN {s} s ON p.numero_sorteo = s.numero_sorteo
            WHERE p.vendedor IS NOT NULL
              AND p.vendedor <> 'NO VENDIDO'
              AND s.fecha_sorteo IS NOT NULL
            GROUP BY p.vendedor, YEAR(s.fecha_sorteo)
        """,
        "gold_time_series": f"""
            SELECT
              MONTH(s.fecha_sorteo) AS month,
              COUNT(DISTINCT s.numero_sorteo) AS num_sorteos,
              COUNT(p.numero_premiado) AS num_premios,
              SUM(p.monto) AS total_monto,
              YEAR(s.fecha_sorteo) AS year
            FROM {s} s
            JOIN {p} p ON p.numero_sorteo = s.numero_sorteo
            WHERE s.fecha_sorteo IS NOT NULL
            GROUP BY YEAR(s.fecha_sorteo), MONTH(s.fecha_sorteo)
        """,
    }


def build_all(
    premios: DataFrame, sorteos: DataFrame, gold_path: str | None = None
) -> dict[str, DataFrame]:
    """Build all 7 gold tables; optionally persist them partitioned as
    the reference does (overwrite = the purge-free idempotent re-run).

    The 7 writes are independent jobs over the same inputs, each into
    its own directory, so they run concurrently, one thread per table.
    Each thread carries the caller's Spark local properties (job group,
    description), so its jobs are attributed to the caller. Every write
    settles before this returns or raises the first failure."""
    out = {name: builder(premios, sorteos) for name, builder in GOLD_BUILDERS.items()}
    if gold_path:
        with ThreadPoolExecutor(len(out)) as pool:
            # Wrapped once per table: each write gets its own copy of
            # the local properties, into which Spark sets its SQL
            # execution id.
            futures = [
                pool.submit(
                    inheritable_thread_target(premios.sparkSession)(_write_gold),
                    df, f"{gold_path}/{name}", GOLD_PARTITIONS[name],
                )
                for name, df in out.items()
            ]
        for f in futures:
            f.result()
    return out


def _write_gold(df: DataFrame, path: str, parts: list[str]) -> None:
    df.write.mode("overwrite").partitionBy(*parts).parquet(path)
