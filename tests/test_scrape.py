"""S1 award-page HTML extraction: field parity with the reference's
scraper (scraping.py:88-160) and round-trip into the Bronze parser."""

import pandas as pd
import pytest

from lottery_end_to_end_etl_data_pipeline_spark.sources.scrape import (
    extract_award_page,
    extract_award_pages,
)

PAGE = """
<html><body>
<div class="container">
  <div class="heading_s1 text-center extra-class">
     <h2>  SORTEO ORDINARIO   NO. 4001</h2>
     <p>
        SORTEO ORDINARIO NO. 4001 FECHA DEL SORTEO: 04/07/2024
     </p>
     <p>FECHA DE CADUCIDAD: 04/10/2024</p>
     <p>PRIMER PREMIO 12345 ||| SEGUNDO PREMIO 678 ||| TERCER PREMIO 910
        REINTEGROS 1, 2, 3</p>
  </div>
  <div class="card">
    <div class="card-body">
      <div class="row">nav junk</div>
      <div class="row">more &amp; junk</div>
      <div class="row">
        <div class="col">CENTENAR&Eacute;S HEADER IGNORED? no:</div>
        <span> 101 </span><span>P</span>
        <br/>
        102   DT   ........   1,250.50
        <div class="inner">NO VENDIDO</div>
      </div>
    </div>
  </div>
</div>
</body></html>
"""

PAGE_00MIL = PAGE.replace('<div class="col">CENTENAR&Eacute;S HEADER IGNORED? no:</div>', "00MIL")


def test_extract_fields():
    out = extract_award_page(77, PAGE)
    assert out["error"] is None
    assert out["numero_sorteo"] == 4001
    assert out["fecha_sorteo"] == "04/07/2024"
    assert out["year"] == "2024"
    assert out["header_title"] == "SORTEO ORDINARIO   NO. 4001"
    # header lines stripped, blanks dropped, space-joined — includes the
    # nested h2 text exactly as get_text would
    assert "FECHA DEL SORTEO: 04/07/2024" in out["header_text"]
    assert "FECHA DE CADUCIDAD: 04/10/2024" in out["header_text"]
    # body = 3rd div.row under card-body, entity decoded, lines cleaned
    body = out["body_results"]
    assert body.splitlines()[0].startswith("CENTENAR")
    assert "NO VENDIDO" in body
    assert "nav junk" not in body
    # CENTENARES sentinel injected since body doesn't start with 00MIL
    assert "BODY\nCENTENARES\n" in out["document"]
    # filename: lowered title, collapsed spaces, non-word -> _
    assert out["file_name"] == "results_raw_lottery_url_id_77_sorteo_ordinario_no._4001.txt"


def test_00mil_body_skips_centenares_sentinel():
    out = extract_award_page(5, PAGE_00MIL)
    assert out["error"] is None
    assert out["body_results"].startswith("00MIL")
    assert "CENTENARES" not in out["document"]
    assert "BODY\n00MIL" in out["document"]


@pytest.mark.parametrize(
    "mutation, expected",
    [
        (lambda h: h.replace("<h2>", "<h3>").replace("</h2>", "</h3>"), "no h2 title"),
        (lambda h: h.replace("NO. 4001</h2>", "</h2>"), "no draw number in title"),
        (lambda h: h.replace('class="card-body"', 'class="other"'), "no results section"),
    ],
)
def test_malformed_pages_land_in_error_column(mutation, expected):
    out = extract_award_page(1, mutation(PAGE))
    assert out["error"] == expected
    assert out["document"] is None


def test_missing_fecha_yields_unknown_year():
    out = extract_award_page(2, PAGE.replace("FECHA DEL SORTEO: 04/07/2024", ""))
    assert out["error"] is None
    assert out["year"] == "unknown"
    assert out["fecha_sorteo"] is None


def test_spark_extraction_round_trips_into_bronze_parser(spark):
    from lottery_end_to_end_etl_data_pipeline_spark.sources.bronze import parse_draws

    pages = spark.createDataFrame(
        pd.DataFrame({"page_id": [77, 5], "html": [PAGE, PAGE_00MIL]})
    )
    extracted = extract_award_pages(pages)
    rows = {r["page_id"]: r for r in extracted.collect()}
    assert rows[77]["error"] is None and rows[5]["error"] is None

    # scrape output IS bronze input: (file, content) -> parse_draws
    raw = extracted.selectExpr("file_name AS file", "document AS content")
    sorteos, premios = parse_draws(raw)
    srows = {int(r["numero_sorteo"]): r for r in sorteos.collect()}
    assert set(srows) == {4001}  # both pages are draw 4001
    assert srows[4001]["fecha_sorteo"] == "04/07/2024"
    assert srows[4001]["primer_premio"] == "12345"
    prows = premios.collect()
    assert any(r["numero_premiado"] == "102" for r in prows)
