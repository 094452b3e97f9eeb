"""Parser unit tests — the reference's planned PR-029 suite
(roadmap.md:645-657, SURVEY §5.1), against the Spark-native parser."""

import pytest
from pyspark.sql import functions as F

from lottery_end_to_end_etl_data_pipeline_spark.operators.silver import (
    conform_premios,
    conform_sorteos,
    with_partitions,
)
from lottery_end_to_end_etl_data_pipeline_spark.sources.bronze import (
    _parse_files,
    parse_bodies,
    parse_draws,
    parse_headers,
    read_raw_draws,
)

from tests.fixture_gen import (
    HANDCRAFTED_DRAW,
    HANDCRAFTED_EXPECTED_PREMIOS,
    HANDCRAFTED_EXPECTED_SORTEO,
    write_fixture_corpus,
)


@pytest.fixture(scope="module")
def handcrafted(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bronze_one")
    p = root / "year=2024" / "sorteo=3046" / "sorteo_3046.txt"
    p.parent.mkdir(parents=True)
    p.write_text(HANDCRAFTED_DRAW, encoding="utf-8")
    raw = read_raw_draws(spark, str(root / "*" / "*" / "*.txt"))
    sorteos_raw, premios_raw = parse_draws(raw)
    return conform_sorteos(sorteos_raw), conform_premios(premios_raw)


def test_header_fields(handcrafted):
    sorteos, _ = handcrafted
    rows = sorteos.collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    exp = HANDCRAFTED_EXPECTED_SORTEO
    assert row["numero_sorteo"] == exp["numero_sorteo"]
    assert row["tipo_sorteo"] == exp["tipo_sorteo"]
    assert row["fecha_sorteo"].isoformat() == exp["fecha_sorteo"]
    assert row["fecha_caducidad"].isoformat() == exp["fecha_caducidad"]
    assert row["primer_premio"] == exp["primer_premio"]
    assert row["segundo_premio"] == exp["segundo_premio"]
    assert row["tercer_premio"] == exp["tercer_premio"]
    assert row["reintegro_primer_premio"] == exp["reintegro_primer_premio"]
    assert row["reintegro_segundo_premio"] == exp["reintegro_segundo_premio"]
    assert row["reintegro_tercer_premio"] == exp["reintegro_tercer_premio"]


def test_body_rows_exact(handcrafted):
    _, premios = handcrafted
    got = sorted(
        (
            (r["numero_premiado"], r["letras"], r["monto"], r["vendedor"],
             r["ciudad"], r["departamento"])
            for r in premios.collect()
        ),
        key=lambda t: t[0],
    )
    expected = sorted(HANDCRAFTED_EXPECTED_PREMIOS, key=lambda t: t[0])
    assert got == expected


def test_numero_sorteo_fanout(handcrafted):
    _, premios = handcrafted
    assert premios.filter(F.col("numero_sorteo") != 3046).count() == 0


def test_missing_sentinels_raise(spark, tmp_path):
    p = tmp_path / "bad.txt"
    p.write_text("HEADER\nSORTEO ORDINARIO NO. 1\nno body sentinel here\n")
    raw = read_raw_draws(spark, str(p))
    with pytest.raises(ValueError, match="HEADER or BODY"):
        parse_draws(raw)


def test_header_without_body_is_excluded(spark, tmp_path):
    # r11 ADVICE: the fold counts post-HEADER lines while body_pos is
    # still NULL, so a HEADER-without-BODY file has n_hdr_lines > 0 —
    # the headers and the prize rows' header fields must still exclude
    # it (both-sentinels contract; parse_draws rejects such files)
    p = tmp_path / "headeronly.txt"
    p.write_text(
        "HEADER\nSORTEO ORDINARIO NO. 1\n"
        "FECHA DEL SORTEO: 01/01/2024\nno body sentinel here\n"
    )
    parsed = _parse_files(read_raw_draws(spark, str(p)))
    assert parse_headers(parsed).count() == 0
    assert parse_bodies(parsed).filter(
        F.col("numero_sorteo").isNotNull()
    ).count() == 0


def test_sentinel_error_wins_past_the_check_limit(spark, tmp_path):
    # more header failures than the check collects, and one sentinel
    # failure whose name sorts after all of them: the sentinel error
    # takes precedence and names that file
    for i in range(45):
        (tmp_path / f"a{i:02d}.txt").write_text(
            "HEADER\ngibberish line with no fields\nBODY\n1 P .... 10.00\n"
        )
    (tmp_path / "z_no_body.txt").write_text("HEADER\nSORTEO ORDINARIO NO. 1\n")
    raw = read_raw_draws(spark, str(tmp_path / "*.txt"))
    with pytest.raises(ValueError, match="HEADER or BODY") as err:
        parse_draws(raw)
    assert "z_no_body.txt" in str(err.value)
    assert "a00.txt" not in str(err.value)


def test_malformed_header_raises(spark, tmp_path):
    p = tmp_path / "bad2.txt"
    p.write_text("HEADER\ngibberish line with no fields\nBODY\n1 P .... 10.00\n")
    raw = read_raw_draws(spark, str(p))
    with pytest.raises(ValueError, match="expected format"):
        parse_draws(raw)


def test_all_null_fecha_raises(spark, tmp_path):
    text = HANDCRAFTED_DRAW.replace("15/12/2024", "99/99/9999")
    p = tmp_path / "year=2024" / "sorteo=3046" / "x.txt"
    p.parent.mkdir(parents=True)
    p.write_text(text)
    raw = read_raw_draws(spark, str(p))
    s_raw, p_raw = parse_draws(raw)
    with pytest.raises(ValueError, match="Cannot derive year partition"):
        with_partitions(conform_sorteos(s_raw), conform_premios(p_raw))


def test_corpus_parses_and_counts(spark, tmp_path):
    paths = write_fixture_corpus(tmp_path, n_draws=6, seed=11)
    raw = read_raw_draws(spark, str(tmp_path / "*" / "*" / "*.txt"))
    s_raw, p_raw = parse_draws(raw)
    sorteos = conform_sorteos(s_raw)
    premios = conform_premios(p_raw)
    assert sorteos.count() == 6
    # every file produced its prize rows; prize counts match the
    # number of prize-regex lines in the source files
    import re

    expected_prizes = 0
    for path in paths:
        for line in path.read_text().splitlines():
            if re.match(r"(\d+)\s+(\w+)\s+\.+\s+([\d,]+\.?\d*)", line.strip()):
                expected_prizes += 1
    assert premios.count() == expected_prizes
    # schema contract
    types = dict(premios.dtypes)
    assert types["numero_sorteo"] == "bigint"
    assert types["numero_premiado"] == "bigint"
    assert types["monto"] == "double"
