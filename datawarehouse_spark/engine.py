"""The engine façade: a layered warehouse over Spark.

``DataWarehouse`` is the user-facing object — it owns the tuned
session, the ODS→DWD→DIM→DWS→ADS layer namespaces (reference
docs/数据模型如何评论好坏.md:22), a SQL entry point with advisor lints,
materialization (the reference's temp-table extraction pattern,
docs/sql调优.md:93-113), and the diagnosis utilities.

    dw = DataWarehouse(base_path="/data/warehouse")
    dw.register_sources("/root/testdata/sf0.01")
    df = dw.sql("SELECT ... FROM lineitem ...")  # sources are bare temp views
    dw.materialize(df, layer="dws", table="daily_rev", partition_by=["dt"])
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from datawarehouse_spark.catalog import TABLES, load_tables
from datawarehouse_spark.plans.advisor import Advice, lint_plan, lint_sql
from datawarehouse_spark.plans.parity import PlanReport, analyze
from datawarehouse_spark.session import get_spark

LAYERS = ("ods", "dwd", "dim", "dws", "ads", "tmp")


def _parquet_footer_rows(path: str) -> int:
    """Row count from parquet footer metadata — no data scan, and
    snapshotted at call time (a later re-materialize of the same table
    cannot retroactively change an older view's .rows)."""
    import glob
    import os

    import pyarrow.parquet as pq

    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in filenames:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


@dataclass
class MaterializedView:
    layer: str
    table: str
    path: str
    _df: DataFrame | None = None
    _rows: int | None = None

    @property
    def rows(self) -> int:
        """Row count of THIS materialization. materialize() pins it
        eagerly from the written files' parquet footers (O(file count)
        metadata reads, no scan), so it can't drift to reflect a later
        rewrite of the same path; the lazy branch only serves
        hand-built instances."""
        if self._rows is None:
            self._rows = _parquet_footer_rows(self.path)
        return self._rows


class DataWarehouse:
    def __init__(self, spark: SparkSession | None = None,
                 base_path: str = "/tmp/dw_warehouse"):
        self.spark = spark or get_spark()
        self.base_path = base_path
        for layer in LAYERS:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {layer}")

    # -- catalog ---------------------------------------------------------
    def register_sources(self, sf_dir: str) -> dict[str, DataFrame]:
        """Register the fixture tables as bare temp views (``lineitem``,
        not ``dwd.lineitem``): the layer databases start empty."""
        tables = load_tables(self.spark, sf_dir, TABLES)
        return tables

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def read_lake(self, path: str, fmt: str = "parquet",
                  schema=None, **options) -> DataFrame:
        """S6 — schema-on-read lake ingestion (reference 读取型schema,
        docs/数据湖.md:28-32): csv/json/text/parquet/binaryFile with an
        optional explicit schema (schema-on-write path) or inference.
        Semi-structured JSON columns then go through F.from_json /
        get_json_object (F12)."""
        reader = self.spark.read.format(fmt)
        if schema is not None:
            reader = reader.schema(schema)
        for k, v in options.items():
            reader = reader.option(k, str(v))
        return reader.load(path)

    # -- query -----------------------------------------------------------
    def sql(self, q: str, advise: bool = True) -> DataFrame:
        """SQL façade (entry point 1, SURVEY §3.1). Lints are advisory —
        printed, never blocking."""
        if advise:
            for a in lint_sql(q):
                print(f"[advisor:{a.rule}] {a.message} ({a.reference})")
        return self.spark.sql(q)

    def sql_qualify(self, q: str) -> DataFrame:
        """``QUALIFY`` clause (Snowflake / DuckDB / BigQuery — filter on
        window-function results without a subquery) as a rewrite —
        Spark's parser has no QUALIFY. The third member of the
        standard-SQL shim family (sql_match_recognize, sql_hierarchy),
        and like them it is oracle-compared in tests against DuckDB
        executing the GENUINE clause text.

        Accepts one top-level ``QUALIFY <predicate>`` optionally
        followed by top-level ``ORDER BY`` / ``LIMIT``. Semantics:
        QUALIFY evaluates window functions over the query's
        post-SELECT result set, so the rewrite projects the query
        first, computes ``(<predicate>)`` as a column over that
        projection (aliases in the select list are therefore plain
        columns — no lateral-alias machinery), filters on it and drops
        it::

            SELECT ..., row_number() OVER w AS rn FROM t QUALIFY rn <= 3
            -->
            SELECT * FROM (
              SELECT *, (rn <= 3) AS __q FROM (SELECT ... FROM t)
            ) WHERE __q [ORDER BY/LIMIT tail]  -- then drop __q

        The predicate may reference output columns of the query
        (including window-function aliases) or contain window
        expressions directly (``QUALIFY row_number() OVER (...) = 1``,
        the dedup idiom)."""
        if "__q" in q.lower():
            # lower(): Spark resolves column names case-insensitively
            # by default, so an alias __Q would collide with the
            # injected __q just as surely as the exact spelling
            raise ValueError(
                "sql_qualify: the query text contains '__q' (any "
                "case), which the rewrite reserves for its filter "
                "column — rename it (same loud-failure convention as "
                "asof_join's _t/_tag)"
            )
        kw = _find_top_level(q, ("QUALIFY",))
        if kw is None:
            raise ValueError("sql_qualify: no top-level QUALIFY clause")
        head = q[: kw[0]].rstrip()
        rest = q[kw[1]:]
        if _find_top_level(rest, ("QUALIFY",)) is not None:
            raise ValueError("sql_qualify: multiple QUALIFY clauses")
        tail_kw = _find_top_level(rest, ("ORDER BY", "LIMIT"))
        if tail_kw is None:
            pred, tail = rest.strip(), ""
        else:
            pred = rest[: tail_kw[0]].strip()
            tail = rest[tail_kw[0]:].strip()
        if not pred:
            raise ValueError("sql_qualify: empty QUALIFY predicate")
        inner = f"SELECT *, ({pred}) AS __q FROM ({head})"
        out = self.sql(f"SELECT * FROM ({inner}) WHERE __q {tail}".strip(),
                       advise=False)
        return out.drop("__q")

    def sql_asof_join(
        self,
        left: str | DataFrame,
        right: str | DataFrame,
        on: str,
        left_time: str,
        right_time: str,
    ) -> DataFrame:
        """``ASOF JOIN`` (DuckDB / QuestDB / kdb+ — "most recent right
        row at or before my time") as a table function — the fourth
        standard-SQL-family shim: Spark's parser has no ASOF JOIN, so
        the clause's pieces arrive as arguments and the semantics run
        as the driver-gate-verified operator (j15,
        operators/temporal.py::asof_join — union-window plan, one
        shuffle, no range-join explosion). Equivalent DuckDB::

            SELECT l.*, r.<value cols>
            FROM left_rel l
            ASOF LEFT JOIN right_rel r
              ON l.<on> = r.<on> AND r.<right_time> <= l.<left_time>

        Sources are SQL strings (run through :meth:`sql`) or
        DataFrames; ``right`` must be one row per (key, time). The
        façade itself is oracle-compared in tests against DuckDB
        executing the genuine ASOF JOIN syntax."""
        ldf = self.sql(left) if isinstance(left, str) else left
        rdf = self.sql(right) if isinstance(right, str) else right
        from datawarehouse_spark.operators.temporal import asof_join

        return asof_join(ldf, rdf, on=on, left_time=left_time,
                         right_time=right_time)

    def sql_match_recognize(
        self,
        source: str | DataFrame,
        partition_by: list[str],
        order_by: list[str],
        define: dict[str, str],
        pattern: str,
        validate_exclusive: bool = False,
    ) -> DataFrame:
        """MATCH_RECOGNIZE (SQL:2016 row-pattern matching) as a table
        function — the documented shim for the standard-SQL capability
        bar (docs/olap.md:97): Spark's parser has no MATCH_RECOGNIZE,
        so the clause's pieces arrive as arguments instead of syntax
        and the semantics run as the operator the driver gate already
        hash-verifies (w12). The mapping, clause by clause::

            MATCH_RECOGNIZE (
              PARTITION BY user_id            -> partition_by=["user_id"]
              ORDER BY ts, event_id           -> order_by=["ts","event_id"]
              MEASURES ...                    -> fixed: seq, n_rows,
                                                 n_matches, matched_len
              ONE ROW PER MATCH               -> aggregated per partition
              AFTER MATCH SKIP PAST LAST ROW  -> non-overlapping matches
              PATTERN (V+ P)                  -> pattern="V+ P"
              DEFINE V AS event_type='view',  -> define={"V": "...",
                     P AS event_type='purchase')          "P": "..."}
            )

        ``source`` is a SQL string (run through :meth:`sql`, lints
        included) or a DataFrame. Example::

            dw.sql_match_recognize(
                "SELECT * FROM events",
                partition_by=["user_id"],
                order_by=["ts", "event_id"],
                define={"V": "event_type = 'view'",
                        "P": "event_type = 'purchase'"},
                pattern="V+ P",
            )

        DEFINE conditions must be mutually exclusive for
        SQL:2016-identical results (a real MR engine backtracks over
        overlapping symbol assignments; the shim classifies each row
        once — operators/patterns.py::compile_define). Pass
        ``validate_exclusive=True`` to spend one map-side pass over
        the source proving exclusivity, raising ValueError if any row
        satisfies two DEFINEs.
        """
        from datawarehouse_spark.operators.patterns import (
            compile_define,
            compile_pattern,
            exclusive_violations,
            match_recognize,
        )

        df = self.sql(source) if isinstance(source, str) else source
        if validate_exclusive and exclusive_violations(df, define):
            raise ValueError(
                "sql_match_recognize: DEFINE conditions overlap on this "
                "data (a row satisfies >= 2 of them); the one-symbol-"
                "per-row shim would diverge from SQL:2016 backtracking "
                "semantics — make the conditions mutually exclusive"
            )
        symbol, chars = compile_define(define)
        return match_recognize(
            df, partition_by, order_by, symbol,
            compile_pattern(pattern, chars),
        )

    def sql_hierarchy(
        self,
        source: str | DataFrame,
        key: str = "k",
        parent: str = "p",
        value: str = "val",
        max_depth: int | None = None,
    ) -> DataFrame:
        """``WITH RECURSIVE`` hierarchy traversal as a table function —
        the second half of the standard-SQL shim (Spark SQL has no
        recursive CTE). The anchor relation is ordinary SQL (or a
        DataFrame); the recursion itself runs as the path-doubling
        closure the driver gate hash-verifies (p14: ⌈log₂ depth⌉
        shuffle rounds, operators/graph.py::hierarchy_stats), returning
        what the classic recursive rollup computes — depth, root,
        descendant count, subtree balance. Equivalent SQL::

            WITH RECURSIVE tree AS (
              SELECT k, p, val, 0 AS depth FROM nodes WHERE p IS NULL
              UNION ALL
              SELECT n.k, n.p, n.val, t.depth + 1
              FROM nodes n JOIN tree t ON n.p = t.k)
            ...

        Example::

            dw.sql_hierarchy(
                "SELECT emp_id AS k, mgr_id AS p, salary AS val "
                "FROM employees",
                max_depth=16,
            )
        """
        from datawarehouse_spark.operators.graph import hierarchy_stats

        df = self.sql(source) if isinstance(source, str) else source
        return hierarchy_stats(
            df, key=key, parent=parent, value=value, max_depth=max_depth
        )

    # -- materialization ---------------------------------------------------
    def materialize(self, df: DataFrame, layer: str, table: str,
                    partition_by: list[str] | None = None) -> MaterializedView:
        """Persist a DataFrame into a layer as parquet + register it
        (the reference's count(distinct)-extraction / temp-table pattern
        and the DWS cube-materialization path).

        With ``partition_by``, re-materializing a DataFrame that covers
        only SOME partitions performs an **incremental refresh**: the
        session's dynamic partition-overwrite mode rewrites exactly the
        partitions present in ``df`` and leaves the rest untouched — the
        late-data / accumulating-snapshot maintenance path for DWS
        tables at scale (recompute one day, not the table). Asserted in
        tests/test_engine_and_multimodal.py."""
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
        path = f"{self.base_path}/{layer}/{table}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        back = self.spark.read.parquet(path)
        back.createOrReplaceTempView(f"{layer}_{table}")
        # pin .rows NOW (footer metadata, no scan): a later incremental
        # re-materialize of this path must not change this view's count
        return MaterializedView(layer, table, path, back,
                                _rows=_parquet_footer_rows(path))

    # -- diagnosis ---------------------------------------------------------
    def explain_parity(self, df: DataFrame) -> PlanReport:
        """Physical plan in the reference's Hive operator vocabulary."""
        return analyze(df)

    def advise_plan(self, df: DataFrame) -> list[Advice]:
        return lint_plan(df)

    def profile_keys(self, df: DataFrame, *keys: str) -> DataFrame:
        from datawarehouse_spark.operators.skew import key_distribution

        return key_distribution(df, *keys)


def _find_top_level(s: str, keywords: tuple[str, ...]) -> tuple[int, int] | None:
    """(start, end) of the FIRST occurrence of any keyword at paren
    depth 0, outside single/double-quoted literals, on word boundaries
    (case-insensitive). Multi-word keywords match across any
    whitespace run. Returns None when absent."""
    import re

    # ASCII-only uppercase: full str.upper() can CHANGE LENGTH
    # ('ß'→'SS') and desynchronize keyword offsets from s
    u = "".join(c.upper() if c.isascii() else c for c in s)
    depth = 0
    i = 0
    n = len(s)
    pats = [
        (re.compile(r"\s+".join(map(re.escape, k.split()))), k)
        for k in (kk.upper() for kk in keywords)
    ]
    while i < n:
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c in ("'", '"'):
            # honor backslash escapes AND SQL doubled-quote escapes —
            # a keyword inside a literal must never match
            j = i + 1
            while j < n:
                if s[j] == "\\":
                    j += 2
                    continue
                if s[j] == c:
                    if j + 1 < n and s[j + 1] == c:
                        j += 2
                        continue
                    break
                j += 1
            i = j
        elif depth == 0 and (i == 0 or not (s[i - 1].isalnum()
                                            or s[i - 1] == "_")):
            for pat, _k in pats:
                m = pat.match(u, i)
                if m and (m.end() == n or not (u[m.end()].isalnum()
                                               or u[m.end()] == "_")):
                    return i, m.end()
        i += 1
    return None
