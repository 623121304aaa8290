"""opt_probe's result CSV keeps one column set on every row."""

from __future__ import annotations

import csv
import io

from airflow_jira_etl_spark.tools.opt_probe import csv_lines


def test_csv_has_constant_warmup_ok_column():
    lines = csv_lines(
        {"agg_a": [0.5, 0.25, 0.75], "join_b": [1.0, 2.0, 1.5]}, warmup_failed={"join_b"}
    )
    rows = list(csv.reader(io.StringIO("\n".join(lines))))
    assert rows[0] == ["name", "min", "median", "all", "warmup_ok"]
    assert rows[1:] == [
        ["agg_a", "0.250", "0.500", "0.500|0.250|0.750", "true"],
        ["join_b", "1.000", "1.500", "1.000|2.000|1.500", "false"],
    ]
