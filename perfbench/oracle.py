"""Independent oracle: DuckDB SQL over the same parquet files.

Nothing here imports the package. Expected values are computed once per
run (untimed) and every op's output is compared against them; any
mismatch makes that op a failed op.
"""

from __future__ import annotations

import math
import os

import duckdb

# checks of default_transcript_checks() and the SQL that flags each one.
# ``f`` is the fact relation; ``prev`` the window's previous turn_idx.
ROW_FLAGS = {
    "not_null_conv_id": "f.conv_id IS NULL",
    "not_null_text": "f.text IS NULL",
    "not_null_role": "f.role IS NULL",
    "not_null_ts": "f.ts IS NULL",
    "turn_idx_range": "f.turn_idx < 0 OR f.turn_idx > 100000",
    "role_domain": "f.role IS NOT NULL AND f.role NOT IN ('user', 'assistant', 'tool')",
    "ref_conv": "f.conv_id IS NOT NULL AND c.conv_id IS NULL",
    "ref_tool": "f.tool IS NOT NULL AND t.tool IS NULL",
    "turn_order": "(f.prev IS NULL AND f.turn_idx <> 0) OR f.turn_idx <> f.prev + 1",
}
TEXT_FLAG = "f.text IS NOT NULL AND r.text IS NOT NULL AND f.text <> r.text"
KS_TOLERANCE = 0.02  # tests/test_drift.py: t-digest KS vs exact KS


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _is_partitioned(path: str) -> bool:
    return any(d.startswith("part_id=") for d in os.listdir(path))


def scan(path: str) -> str:
    """A DuckDB table expression for a parquet table directory; partition
    directories (``part_id=N``) become a column."""
    if _is_partitioned(path):
        return f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
    return f"read_parquet('{path}/*.parquet')"


class Oracle:
    def __init__(self, inputs: str) -> None:
        self.inputs = inputs
        self.con = connect()
        for name in ("clean", "conversations", "tools", "parts"):
            self.con.execute(
                f"CREATE TEMP VIEW {name} AS SELECT * FROM {scan(os.path.join(inputs, name))}"
            )

    def close(self) -> None:
        self.con.close()

    def _fact(self, fact_path: str, parts: tuple[int, ...] | None) -> str:
        """Fact rows with their part_id, optionally restricted to ``parts``."""
        where = f"WHERE part_id IN ({', '.join(map(str, parts))})" if parts else ""
        if _is_partitioned(fact_path):
            return f"SELECT * FROM {scan(fact_path)} {where}"
        return (
            f"SELECT * FROM (SELECT x.*, p.part_id FROM {scan(fact_path)} x "
            f"JOIN parts p USING (conv_id)) {where}"
        )

    # ------------------------------------------------------------ checks

    def verdicts(
        self, fact_path: str, text_equals: bool, parts: tuple[int, ...] | None = None
    ) -> dict[tuple[int, str], tuple[int, int]]:
        """(part_id, check_id) -> (n_rows, n_violations) for the default
        suite, plus ``text_equals`` against the clean copy when asked."""
        flags = dict(ROW_FLAGS)
        if text_equals:
            flags["text_equals"] = TEXT_FLAG
        cols = ", ".join(f"count(*) FILTER (WHERE {cond}) AS \"{name}\"" for name, cond in flags.items())
        sql = f"""
        WITH f AS (
          SELECT *, lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) AS prev
          FROM ({self._fact(fact_path, parts)})
        )
        SELECT f.part_id, count(*) AS n_rows, {cols}
        FROM f
        LEFT JOIN (SELECT DISTINCT conv_id FROM conversations) c ON f.conv_id = c.conv_id
        LEFT JOIN (SELECT DISTINCT tool FROM tools) t ON f.tool = t.tool
        LEFT JOIN clean r ON f.conv_id = r.conv_id AND f.turn_idx = r.turn_idx
        GROUP BY f.part_id
        """
        rel = self.con.execute(sql)
        names = [d[0] for d in rel.description]
        out: dict[tuple[int, str], tuple[int, int]] = {}
        for row in rel.fetchall():
            rec = dict(zip(names, row))
            for name in flags:
                out[(rec["part_id"], name)] = (rec["n_rows"], rec[name])
        dup_sql = f"""
        SELECT p.part_id, count(*) FILTER (WHERE k.n > 1) AS dup_keys, sum(k.n) AS n_rows
        FROM (SELECT conv_id, turn_idx, count(*) AS n FROM ({self._fact(fact_path, parts)})
              GROUP BY conv_id, turn_idx) k
        JOIN parts p USING (conv_id) GROUP BY p.part_id
        """
        for part_id, dup_keys, n_rows in self.con.execute(dup_sql).fetchall():
            out[(part_id, "unique_turn")] = (int(n_rows), dup_keys)
        return out

    def fact_rows(self, fact_path: str, parts: tuple[int, ...] | None = None) -> int:
        return self.con.execute(f"SELECT count(*) FROM ({self._fact(fact_path, parts)})").fetchone()[0]

    # ------------------------------------------------------------- drift

    def text_length_ks(self, fact_path: str) -> dict[int, tuple[float, int]]:
        """part_id -> (exact two-sample KS of length(text), current rows),
        clean copy as baseline; part_id -1 pools every partition."""
        out = {}
        for grouped in (True, False):
            g = "part_id" if grouped else "-1"
            sql = f"""
            WITH v AS (
              SELECT {g} AS g, length(r.text) AS x, 1 AS a, 0 AS b
              FROM clean r JOIN parts USING (conv_id) WHERE r.text IS NOT NULL
              UNION ALL
              SELECT {g} AS g, length(f.text) AS x, 0 AS a, 1 AS b
              FROM ({self._fact(fact_path, None)}) f WHERE f.text IS NOT NULL
            ),
            d AS (SELECT g, x, sum(a) AS na, sum(b) AS nb FROM v GROUP BY g, x),
            c AS (
              SELECT g,
                     sum(na) OVER (PARTITION BY g ORDER BY x) AS ca,
                     sum(nb) OVER (PARTITION BY g ORDER BY x) AS cb,
                     sum(na) OVER (PARTITION BY g) AS ta,
                     sum(nb) OVER (PARTITION BY g) AS tb
              FROM d
            )
            SELECT g, max(abs(ca / ta - cb / tb)), any_value(tb) FROM c GROUP BY g
            """
            for g_, ks, n in self.con.execute(sql).fetchall():
                out[int(g_)] = (float(ks), int(n))
        return out

    def conversations_per_part(self, fact_path: str) -> dict[int, int]:
        sql = f"SELECT part_id, count(DISTINCT conv_id) FROM ({self._fact(fact_path, None)}) GROUP BY part_id"
        out = {int(p): int(n) for p, n in self.con.execute(sql).fetchall()}
        out[-1] = sum(out.values())
        return out

    def column_stats(self, fact_path: str) -> dict[tuple[str, str], float]:
        """(column, stat) -> exact value for the stats column_stats
        computes exactly (approx_distinct and stddev are left out)."""
        cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        exprs = ["count(*) AS n"]
        for c in cols:
            exprs.append(f"count(*) FILTER (WHERE {c} IS NULL) AS \"{c}.n_null\"")
        for c in ("conv_id", "role", "text", "tool"):
            exprs += [
                f"min(length({c})) AS \"{c}.min_length\"",
                f"max(length({c})) AS \"{c}.max_length\"",
                f"avg(length({c})) AS \"{c}.avg_length\"",
            ]
        exprs += ['min(turn_idx) AS "turn_idx.min"', 'max(turn_idx) AS "turn_idx.max"',
                  'avg(turn_idx) AS "turn_idx.avg"']
        rel = self.con.execute(f"SELECT {', '.join(exprs)} FROM {scan(fact_path)}")
        rec = dict(zip([d[0] for d in rel.description], rel.fetchone()))
        n = rec.pop("n")
        out = {}
        for key, value in rec.items():
            col, stat = key.split(".")
            out[(col, stat)] = float(value)
        for c in cols:
            out[(c, "n_rows")] = float(n)
        return out

    # --------------------------------------------------------- manifest

    def manifest_parts(self, manifest_path: str, run_id: str) -> set[int]:
        sql = f"SELECT part_id FROM {scan(manifest_path)} WHERE run_id = ? AND status = 'done'"
        return {int(r[0]) for r in self.con.execute(sql, [run_id]).fetchall()}

    def job_verdicts(self, verdicts_path: str, parts: tuple[int, ...]) -> dict[tuple[int, str], tuple[int, int]]:
        sql = (
            f"SELECT part_id, check_id, n_rows, n_violations FROM {scan(verdicts_path)} "
            f"WHERE part_id IN ({', '.join(map(str, parts))})"
        )
        return {(int(p), c): (int(n), int(v)) for p, c, n, v in self.con.execute(sql).fetchall()}


def close_enough(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=rel)
