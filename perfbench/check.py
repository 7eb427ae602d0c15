"""Correctness gate, run on the collected results after the pass ends.

Queries with a DuckDB twin (``oracle_sql()`` / ``held_out_oracle_sql()``)
go through ``tests.oracle_utils.assert_parity``: same sorted column
names, same row count, every value close and none only approximately
equal. Queries without a twin get a row-count and schema check against
``EXPECTED_SHAPE``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.pandas.types import _create_converter_to_pandas


def rows_to_pandas(rows: list, schema, timezone: str) -> pd.DataFrame:
    """Collected Rows as the pandas frame ``toPandas()`` would give,
    by Spark's own non-Arrow conversion, without running the query again."""
    columns = schema.names
    if rows:
        pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=columns)
    else:
        pdf = pd.DataFrame(columns=columns)
    if not columns:
        return pdf
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=timezone,
                struct_in_pandas="row",
                error_on_duplicated_field_names=False,
                timestamp_utc_localized=False,
            )(pser)
            for (_, pser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


class Collected:
    """What ``assert_parity`` needs of a DataFrame, from rows already collected."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 — the DataFrame method's name
        return self._pdf


class Gate:
    def __init__(self, data_dir: str, timezone: str) -> None:
        import __spark_entry__ as entry

        self.oracles = {**entry.held_out_oracle_sql(), **entry.oracle_sql()}
        self.data_dir = data_dir
        self.timezone = timezone

    def check(self, name: str, schema, rows: list) -> str | None:
        """None when the result is right, else why it is wrong."""
        from perfbench.workloads import EXPECTED_SHAPE
        from tests.oracle_utils import assert_parity

        sql = self.oracles.get(name)
        if sql is None:
            if name not in EXPECTED_SHAPE:
                return "no DuckDB twin and no expected shape"
            n_rows, shape = EXPECTED_SHAPE[name]
            if len(rows) != n_rows or schema.simpleString() != shape:
                return (
                    f"shape got=({len(rows)}, {schema.simpleString()}) "
                    f"expected=({n_rows}, {shape})"
                )
            return None
        got = Collected(rows_to_pandas(rows, schema, self.timezone))
        try:
            assert_parity(got, sql, self.data_dir, name)
        except AssertionError as exc:
            return str(exc)
        return None
