"""scripts/ab.py, the same-window A/B tool, run in-process on a registered
query so it keeps working as the queries and their module constants change."""

from __future__ import annotations

import importlib.util
import json
import os

_AB = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "ab.py")


def test_ab_reports_identity_and_timings(spark, sf_smoke, capsys):
    spec = importlib.util.spec_from_file_location("ab_script", _AB)
    ab = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ab)
    import brooklin_spark.queries.dedup as dd

    default = dd._KCORE_GROUPED_LI_ROWS
    ab.main(
        [
            "graph_kcore_bounded",
            sf_smoke,
            "--set",
            "brooklin_spark.queries.dedup._KCORE_GROUPED_LI_ROWS=0",
            "--reps",
            "1",
        ],
        spark=spark,
    )
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
    assert len(lines) == 1
    out = json.loads(lines[0])
    assert out["identity"] is True and out["rows"] > 0
    assert out["b_wins"] in (0, 1)
    assert out["a"]["min_s"] > 0 and out["b"]["median_s"] > 0
    assert dd._KCORE_GROUPED_LI_ROWS == default  # overrides restored
