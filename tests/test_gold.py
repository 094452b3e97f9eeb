"""Gold end-to-end: fixture corpus → silver parquet → 7 gold tables,
cross-checked three ways on the same silver parquet: the gold table
Spark wrote, that table read back by DuckDB, and DuckDB running the
identical SQL text as an oracle (the reference's intended correctness
contract, SURVEY §5). The written schemas are pinned too, and the 7
`gold_*_shape` catalog entries are held to the same SQL text."""

import duckdb
import pytest
from pyspark.sql.types import StructType

from bench import WARM_SF as SF
from lottery_end_to_end_etl_data_pipeline_spark.operators.gold import GOLD_TABLES
from lottery_end_to_end_etl_data_pipeline_spark.plans.pipeline import run_pipeline
from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import ORACLE, QUERIES

from tests.compare import assert_same, duck_rows

from tests.fixture_gen import write_fixture_corpus

#: Schemas of the written gold tables as read back (parquet read-back
#: makes every column nullable); partition columns come last.
GOLD_SCHEMAS = {
    "gold_draw_summary": "numero_sorteo BIGINT, tipo_sorteo STRING, fecha_sorteo DATE, "
    "total_premios BIGINT, premios_vendidos BIGINT, premios_no_vendidos BIGINT, "
    "pct_vendido DOUBLE, total_monto DOUBLE, monto_pagado DOUBLE, top_premio DOUBLE",
    "gold_winning_number_frequency": "numero_premiado BIGINT, veces_ganador BIGINT, "
    "total_monto DOUBLE, max_monto DOUBLE",
    "gold_terminations": "terminacion STRING, veces_ganador BIGINT, total_monto DOUBLE",
    "gold_letters_distribution": "letras STRING, veces_ganador BIGINT, total_monto DOUBLE",
    "gold_geo_winnings": "departamento STRING, ciudad STRING, num_ganadores BIGINT, "
    "total_monto DOUBLE, year INT",
    "gold_vendor_leaderboard": "vendedor STRING, num_premios BIGINT, total_monto DOUBLE, year INT",
    "gold_time_series": "month INT, num_sorteos BIGINT, num_premios BIGINT, "
    "total_monto DOUBLE, year INT",
}


#: The 7 catalog entries and the gold table whose SQL text each runs.
CATALOG_GOLD = {
    "gold_draw_summary_shape": "gold_draw_summary",
    "gold_frequency_shape": "gold_winning_number_frequency",
    "gold_terminations_shape": "gold_terminations",
    "gold_letters_shape": "gold_letters_distribution",
    "gold_geo_shape": "gold_geo_winnings",
    "gold_leaderboard_shape": "gold_vendor_leaderboard",
    "gold_time_series_shape": "gold_time_series",
}


@pytest.fixture(scope="module")
def silver(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("gold_e2e")
    write_fixture_corpus(root / "raw", n_draws=20, seed=7)
    result = run_pipeline(
        spark,
        str(root / "raw" / "*" / "*" / "*.txt"),
        str(root / "silver"),
        gold_path=str(root / "gold"),
    )
    assert result.new_draws == 20
    assert result.new_premios > 500
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW silver_sorteos AS SELECT * FROM read_parquet('{root}/silver/sorteos/**/*.parquet', hive_partitioning=1)"
    )
    con.execute(
        f"CREATE VIEW silver_premios AS SELECT * FROM read_parquet('{root}/silver/premios/**/*.parquet', hive_partitioning=1)"
    )
    return spark, con, root / "gold"


@pytest.mark.parametrize("name", sorted(GOLD_TABLES))
def test_gold_three_way(silver, name):
    spark, con, gold = silver
    written = spark.read.parquet(f"{gold}/{name}")
    oracle = con.sql(GOLD_TABLES[name][0].format(premios="silver_premios", sorteos="silver_sorteos"))
    assert_same(written, oracle, label=f"{name}: Spark vs DuckDB")
    read_back = con.sql(
        f"SELECT * FROM read_parquet('{gold}/{name}/**/*.parquet', hive_partitioning=1)"
    )
    assert duck_rows(read_back) == duck_rows(oracle), f"{name}: DuckDB read-back"


def test_gold_written_schemas(silver):
    spark, _, gold = silver
    for name, ddl in GOLD_SCHEMAS.items():
        got = spark.read.parquet(f"{gold}/{name}").schema
        assert got == StructType.fromDDL(ddl), f"{name}: {got.simpleString()}"


def test_incremental_rerun_is_noop(spark, tmp_path):
    write_fixture_corpus(tmp_path / "raw", n_draws=4, seed=3)
    args = (str(tmp_path / "raw" / "*" / "*" / "*.txt"), str(tmp_path / "silver"))
    first = run_pipeline(spark, *args)
    assert first.new_draws == 4
    second = run_pipeline(spark, *args)
    assert second.new_draws == 0
    assert second.new_premios == 0


def test_incremental_picks_up_new_draw(spark, tmp_path):
    write_fixture_corpus(tmp_path / "raw", n_draws=4, seed=3)
    args = (str(tmp_path / "raw" / "*" / "*" / "*.txt"), str(tmp_path / "silver"))
    run_pipeline(spark, *args)
    # a 5th draw arrives
    write_fixture_corpus(tmp_path / "raw", n_draws=5, seed=3)
    third = run_pipeline(spark, *args)
    assert third.new_draws == 1
    # silver now holds all 5 exactly once
    assert spark.read.parquet(str(tmp_path / "silver/sorteos")).count() == 5


@pytest.fixture(scope="module")
def catalog_tables():
    con = duckdb.connect()
    for table in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{SF}/{table}.parquet')")
    return con


@pytest.mark.parametrize("entry", sorted(CATALOG_GOLD))
def test_catalog_entry_runs_the_gold_text(spark, catalog_tables, entry):
    """The entry's oracle is its gold table's SQL text, verbatim, over
    the stand-in silver, and the entry gives the same rows on Spark."""
    text = GOLD_TABLES[CATALOG_GOLD[entry]][0]
    assert text.format(premios="premios", sorteos="sorteos") in ORACLE[entry]
    oracle = catalog_tables.sql(ORACLE[entry])
    assert_same(QUERIES[entry](spark, SF), oracle, label=f"{entry}: Spark vs DuckDB")
