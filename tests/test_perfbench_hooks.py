"""The traced benchmark (`perfbench/`) times the pipeline's layers by
patching, by attribute, the names `plans.pipeline` calls and
`operators.gold.build_all`. A refactor that drops one of those names
fails here rather than in a later `--trace 1` run.

`PIPELINE_CALLS` is read from `perfbench/workloads.py` with `ast`, so no
perfbench module is imported."""

import ast
import inspect
from pathlib import Path

from lottery_end_to_end_etl_data_pipeline_spark.operators import gold
from lottery_end_to_end_etl_data_pipeline_spark.plans import pipeline

WORKLOADS = Path(__file__).resolve().parent.parent / "perfbench" / "workloads.py"


def _pipeline_calls() -> dict[str, str]:
    for node in ast.parse(WORKLOADS.read_text()).body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "PIPELINE_CALLS" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("PIPELINE_CALLS not found in perfbench/workloads.py")


def test_patched_names_are_called_by_the_pipeline():
    calls = _pipeline_calls()
    assert calls
    run = ast.parse(inspect.getsource(pipeline.run_pipeline))
    called = {
        n.func.id for n in ast.walk(run) if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }
    for name, layer in calls.items():
        assert callable(getattr(pipeline, name, None)), name
        assert getattr(pipeline, name).__module__.endswith(layer), (name, layer)
        assert name in called, name
    assert callable(gold.build_all)
    assert "build_all" in {
        n.attr for n in ast.walk(run) if isinstance(n, ast.Attribute)
    }
