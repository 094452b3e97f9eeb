"""Every source file compiles with warnings turned into errors, so an
invalid escape sequence in a string (a SyntaxWarning from Python 3.12,
a DeprecationWarning before it) fails here instead of later."""

import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_sources_compile_without_warnings():
    sources = sorted(
        p
        for d in ("lottery_end_to_end_etl_data_pipeline_spark", "tests", "tools")
        for p in (ROOT / d).rglob("*.py")
    )
    assert len(sources) > 50
    failed = []
    for path in sources:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except SyntaxError as e:
                failed.append(f"{path.relative_to(ROOT)}:{e.lineno}: {e.msg}")
    assert failed == []
