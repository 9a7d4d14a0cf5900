"""Output checks against the DuckDB oracles, run outside the timed region.

Outputs are captured as Arrow tables during the untimed warm-up pass and
compared after the measured passes:

- small outputs (the quality report, q1–q5, the quarantine rows and every
  operator result) compare exactly after ``tests/test_oracle_parity.py``'s
  normalization;
- large outputs (cleaned tables, the portfolio, q0) compare by row count plus
  an order-insensitive hash. Both sides are hashed by the same DuckDB
  expression over the same column order, so the hash cannot differ by engine.
"""

from __future__ import annotations

import json
import threading
import time

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

from tests.test_oracle_parity import _normalize_rows


def to_arrow(df) -> pa.Table:
    """Spark → Arrow with UTC timestamps made naive, as DuckDB returns them."""
    table = df.toArrow()
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            table = table.set_column(i, f.name, pc.cast(table.column(i), pa.timestamp(f.type.unit)))
    return table


def report_id_list_as_json(report: pa.Table) -> pa.Table:
    """The quality report as the ``etl_quality_report`` oracle returns it: the
    problematic-id list as its ``to_json`` text, NULL elements kept."""
    col = "problematic_application_ids"
    ids = report.column(col).to_pylist()
    text = pa.array([None if v is None else json.dumps(v, separators=(",", ":")) for v in ids])
    return report.set_column(report.column_names.index(col), col, text)


def _rows(table: pa.Table) -> list[tuple]:
    cols = table.column_names
    return [tuple(r[c] for c in cols) for r in table.to_pylist()]


def _hash_sql(relation: str, columns: list[str]) -> str:
    parts = ", ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), '∅')" for c in sorted(columns)
    )
    return f"SELECT count(*), sum(hash(concat_ws(chr(31), {parts})))::HUGEINT FROM {relation}"


# The rounded ratios of q1, q3, q4 and q5 as (SQL over the portfolio ``p``
# giving numerator ``n`` and denominator ``d`` per group, decimals).
_APPROVED = "CASE WHEN status = 'approved' THEN loan_amount_eur END"
_ROUNDED_RATIOS = [
    *(
        (f"SELECT sum(CASE WHEN days_past_due >= {days} THEN 1 ELSE 0 END) AS n,"
         " count(*) AS d FROM p WHERE disbursement_date IS NOT NULL"
         " AND NOT flag_loan_id_null GROUP BY date_trunc('month', disbursement_date)", 4)
        for days in (30, 60, 90)
    ),
    ("SELECT sum(CASE WHEN days_past_due > 30 THEN 1 ELSE 0 END) AS n, count(*) AS d"
     " FROM p WHERE NOT flag_loan_id_null GROUP BY installer_partner_id", 4),
    ("SELECT sum(CASE WHEN status = 'approved' THEN 1 ELSE 0 END) AS n, count(*) AS d"
     " FROM p WHERE application_date IS NOT NULL"
     " GROUP BY date_trunc('month', application_date), installation_type", 4),
    (f"SELECT sum({_APPROVED}) AS n, count({_APPROVED}) AS d"
     " FROM p WHERE application_date IS NOT NULL"
     " GROUP BY date_trunc('month', application_date), installation_type", 2),
    ("SELECT v AS n, sum(v) OVER (PARTITION BY m) AS d FROM ("
     f"SELECT date_trunc('month', application_date) AS m, sum(coalesce({_APPROVED}, 0)) AS v"
     " FROM p WHERE application_date IS NOT NULL AND NOT flag_installation_type_invalid"
     " GROUP BY m, installation_type)", 4),
]


def rounding_ties(portfolio_sql: str) -> int:
    """How many rounded ratios of q1, q3, q4 and q5 lie exactly halfway
    between two rounded values and are not exact in binary. Spark rounds
    such a double half-up from its shortest decimal form and DuckDB rounds
    the double times 10^d, so the engines may differ in the last digit.
    Amounts are whole euros, so every ratio is n / d of integers and the
    test is exact."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE p AS {portfolio_sql}")
        ties = 0
        for sql, decimals in _ROUNDED_RATIOS:
            scale = 2 * 10**decimals
            ties += con.execute(
                f"SELECT count(*) FROM (SELECT CAST(n AS BIGINT) AS n, CAST(d AS BIGINT) AS d"
                f" FROM ({sql})) WHERE d > 0 AND ({scale} * n) % d = 0"
                f" AND (({scale} * n) // d) % 2 = 1"
                # a tie whose reduced denominator is a power of two is exact
                # in binary, and both engines round it up
                " AND bit_count(d // gcd(n, d)) > 1"
            ).fetchone()[0]
        return ties
    finally:
        con.close()


class Oracle:
    """One DuckDB connection; records the seconds each oracle query took and
    the rows it returned."""

    def __init__(self, views: dict[str, str] | None = None):
        self.con = duckdb.connect()
        self.seconds: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self._prefetched: dict[str, tuple[list[str], list[tuple]]] = {}
        self._thread: threading.Thread | None = None
        for name, path in (views or {}).items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.join()
        self.con.close()

    def _run(self, con, key: str, sql: str) -> tuple[list[str], list[tuple]]:
        t0 = time.perf_counter()
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        self.seconds[key] = time.perf_counter() - t0
        return cols, rows

    def prefetch(self, queries: dict[str, str]) -> None:
        """Run ``exact``'s oracle queries on a background thread. They depend
        only on the inputs, so they can overlap the JVM's launch; their
        ``seconds`` then include that contention."""
        cur = self.con.cursor()
        self._thread = threading.Thread(
            target=lambda: self._prefetched.update(
                (key, self._run(cur, key, sql)) for key, sql in queries.items()
            )
        )
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()
            self._thread = None

    def exact(self, key: str, sql: str, got: pa.Table) -> str | None:
        """None when ``got`` equals the oracle's result, else a reason."""
        self.join()
        cols, rows = self._prefetched.pop(key, None) or self._run(self.con, key, sql)
        self.rows[key] = len(rows)
        if sorted(cols) != sorted(got.column_names):
            return f"columns {got.column_names} != {cols}"
        if len(rows) != got.num_rows:
            return f"rows {got.num_rows} != {len(rows)}"
        if _normalize_rows(_rows(got), got.column_names) != _normalize_rows(rows, cols):
            return "values differ"
        return None

    def hashed(self, key: str, sql: str, got: pa.Table) -> str | None:
        """None when ``got`` has the oracle's rows and hash, else a reason."""
        t0 = time.perf_counter()
        cols = [d[0] for d in self.con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
        want = self.con.execute(_hash_sql(f"({sql})", cols)).fetchone()
        self.seconds[key] = time.perf_counter() - t0
        self.rows[key] = want[0]
        if sorted(cols) != sorted(got.column_names):
            return f"columns {got.column_names} != {cols}"
        self.con.register("spark_out", got)
        try:
            have = self.con.execute(_hash_sql("spark_out", cols)).fetchone()
        finally:
            self.con.unregister("spark_out")
        if have[0] != want[0]:
            return f"rows {have[0]} != {want[0]}"
        if have[1] != want[1]:
            return "row hash differs"
        return None

    def csv_rows(self, path: str) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM read_csv('{path}', header=true, all_varchar=true)"
        ).fetchone()[0]
