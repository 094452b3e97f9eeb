"""The 7 Gold aggregate tables, one Spark-SQL query each.

Source of truth: the reference's `sql/gold/01..07_*.sql` (Athena/
Presto dialect); the text below is near-verbatim. Dialect deltas
handled here (SURVEY §7.5):
- `COUNT(x) FILTER (WHERE p)` → Spark SQL supports FILTER directly
  (counts skip NULL x, sql/gold/01:37-46).
- `VARCHAR` → `STRING`; `NULLIF` is native.
- `100.0` is `DECIMAL(4,1)` in Spark, so the `pct_vendido` denominator
  is cast to `DOUBLE` to keep the column `double`.
- CTAS + purge Lambda → `write.mode("overwrite").partitionBy("year")`
  (SURVEY §4: overwrite subsumes the whole purge dance).

The same text runs on DuckDB as the test suite's oracle, with the
`{premios}`/`{sorteos}` placeholders filled by view names.

Scale notes: all 7 are hash aggregates with map-side partial agg;
the 4 fact⋈dim joins broadcast the `sorteos` side on size (1 row/draw,
under `spark.sql.autoBroadcastJoinThreshold`). Gold tables partitioned
by `year` where the reference partitions (05/06/07) for downstream
partition pruning. `build_all` overlaps the 7 writes (each table its
own directory and jobs); `plans.pipeline` writes its `_silver_draws`
marker only after all of them have succeeded.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

#: gold table name → (SQL text, partition cols) — partitioning mirrors
#: sql/gold (05/06/07 partitioned by year, sql/gold/05:24 etc.).
GOLD_TABLES: dict[str, tuple[str, list[str]]] = {
    "gold_draw_summary": ("""
        SELECT
          s.numero_sorteo AS numero_sorteo,
          s.tipo_sorteo AS tipo_sorteo,
          s.fecha_sorteo AS fecha_sorteo,
          COUNT(p.numero_premiado) AS total_premios,
          COUNT(p.numero_premiado) FILTER (WHERE p.vendedor <> 'NO VENDIDO') AS premios_vendidos,
          COUNT(p.numero_premiado) FILTER (WHERE p.vendedor =  'NO VENDIDO') AS premios_no_vendidos,
          ROUND(
            100.0 * COUNT(p.numero_premiado) FILTER (WHERE p.vendedor <> 'NO VENDIDO')
            / NULLIF(CAST(COUNT(p.numero_premiado) AS DOUBLE), 0)
          , 2) AS pct_vendido,
          SUM(p.monto) AS total_monto,
          SUM(p.monto) FILTER (WHERE p.vendedor <> 'NO VENDIDO') AS monto_pagado,
          MAX(p.monto) AS top_premio
        FROM {sorteos} s
        JOIN {premios} p ON p.numero_sorteo = s.numero_sorteo
        GROUP BY s.numero_sorteo, s.tipo_sorteo, s.fecha_sorteo
    """, []),
    "gold_winning_number_frequency": ("""
        SELECT
          p.numero_premiado AS numero_premiado,
          COUNT(*) AS veces_ganador,
          SUM(p.monto) AS total_monto,
          MAX(p.monto) AS max_monto
        FROM {premios} p
        WHERE p.numero_premiado IS NOT NULL
        GROUP BY p.numero_premiado
    """, []),
    "gold_terminations": ("""
        SELECT
          LPAD(CAST(p.numero_premiado % 100 AS STRING), 2, '0') AS terminacion,
          COUNT(*) AS veces_ganador,
          SUM(p.monto) AS total_monto
        FROM {premios} p
        WHERE p.numero_premiado IS NOT NULL
        GROUP BY LPAD(CAST(p.numero_premiado % 100 AS STRING), 2, '0')
    """, []),
    "gold_letters_distribution": ("""
        SELECT
          p.letras AS letras,
          COUNT(*) AS veces_ganador,
          SUM(p.monto) AS total_monto
        FROM {premios} p
        WHERE p.letras IS NOT NULL
        GROUP BY p.letras
    """, []),
    "gold_geo_winnings": ("""
        SELECT
          p.departamento AS departamento,
          p.ciudad AS ciudad,
          COUNT(*) AS num_ganadores,
          SUM(p.monto) AS total_monto,
          YEAR(s.fecha_sorteo) AS year
        FROM {premios} p
        JOIN {sorteos} s ON p.numero_sorteo = s.numero_sorteo
        WHERE p.vendedor <> 'NO VENDIDO'
          AND s.fecha_sorteo IS NOT NULL
        GROUP BY p.departamento, p.ciudad, YEAR(s.fecha_sorteo)
    """, ["year"]),
    "gold_vendor_leaderboard": ("""
        SELECT
          p.vendedor AS vendedor,
          COUNT(*) AS num_premios,
          SUM(p.monto) AS total_monto,
          YEAR(s.fecha_sorteo) AS year
        FROM {premios} p
        JOIN {sorteos} s ON p.numero_sorteo = s.numero_sorteo
        WHERE p.vendedor IS NOT NULL
          AND p.vendedor <> 'NO VENDIDO'
          AND s.fecha_sorteo IS NOT NULL
        GROUP BY p.vendedor, YEAR(s.fecha_sorteo)
    """, ["year"]),
    "gold_time_series": ("""
        SELECT
          MONTH(s.fecha_sorteo) AS month,
          COUNT(DISTINCT s.numero_sorteo) AS num_sorteos,
          COUNT(p.numero_premiado) AS num_premios,
          SUM(p.monto) AS total_monto,
          YEAR(s.fecha_sorteo) AS year
        FROM {sorteos} s
        JOIN {premios} p ON p.numero_sorteo = s.numero_sorteo
        WHERE s.fecha_sorteo IS NOT NULL
        GROUP BY YEAR(s.fecha_sorteo), MONTH(s.fecha_sorteo)
    """, ["year"]),
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
    spark = premios.sparkSession
    out = {
        name: spark.sql(text, premios=premios, sorteos=sorteos)
        for name, (text, _) in GOLD_TABLES.items()
    }
    if gold_path:
        with ThreadPoolExecutor(len(out)) as pool:
            # Wrapped once per table: each write gets its own copy of
            # the local properties, into which Spark sets its SQL
            # execution id.
            futures = [
                pool.submit(
                    inheritable_thread_target(spark)(_write_gold),
                    df, f"{gold_path}/{name}", GOLD_TABLES[name][1],
                )
                for name, df in out.items()
            ]
        for f in futures:
            f.result()
    return out


def _write_gold(df: DataFrame, path: str, parts: list[str]) -> None:
    df.write.mode("overwrite").partitionBy(*parts).parquet(path)
