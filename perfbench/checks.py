"""Result checks against the package's DuckDB oracle twins.

Each check runs outside the timed region and returns a list of mismatch
descriptions (empty when the result is correct).  Spark results reach
DuckDB as Arrow tables and are compared as multisets (``EXCEPT ALL`` both
ways), so row order never matters.
"""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from datalake_indexes_spark.functions.xash import xash_hi_lo
from datalake_indexes_spark.plans import oracle

from layers import ENRICH_K, ENRICH_K_C, ENRICH_K_FEATURES


def _literal(text: str) -> str:
    return "'" + text.replace("'", "''") + "'"


class Oracle:
    """A DuckDB connection with one view per lake table, named as in the
    package's catalog (the oracle SQL reads the tables by those names)."""

    def __init__(self, lake_paths: dict[str, str], temp_dir: str):
        self.con = duckdb.connect()
        # no extension may be fetched: everything the oracle SQL uses is built in
        self.con.execute("SET autoinstall_known_extensions = false")
        self.con.execute("SET autoload_known_extensions = false")
        self.con.execute(f"SET temp_directory = {_literal(temp_dir)}")
        self.con.execute("SET threads = 2")
        for name, path in lake_paths.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({_literal(path)})")
        self._have_cells = False

    def close(self) -> None:
        self.con.close()

    def _diff(self, label: str, got, want_sql: str) -> list[str]:
        """Multiset difference of an Arrow table and a query's result."""
        self.con.register("__got", got)
        try:
            self.con.execute(f"CREATE OR REPLACE TEMP TABLE __want AS {want_sql}")
            cols = ", ".join(got.column_names)
            extra = self.con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM __got "
                f"EXCEPT ALL SELECT {cols} FROM __want)"
            ).fetchone()[0]
            missing = self.con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM __want "
                f"EXCEPT ALL SELECT {cols} FROM __got)"
            ).fetchone()[0]
        finally:
            self.con.unregister("__got")
        if extra or missing:
            return [f"{label}: {extra} unexpected rows, {missing} missing rows"]
        return []

    # ------------------------------------------------------------------ ingest
    def check_index(self, index, seed: int, n_sample_rows: int = 24) -> list[str]:
        """cells, table_info and col_flags equal their oracle twins;
        row_keys has one row per indexed row, and each sampled row's key is
        the OR of the XASH of its cells' tokens."""
        if not self._have_cells:
            # every build indexes the same lake: materialise the oracle
            # cells once per run
            self.con.execute(f"CREATE TEMP TABLE __want_cells AS {oracle.index_cells_sql()}")
            self._have_cells = True
        errors = []
        errors += self._diff("cells", index.cells.toArrow(), "SELECT * FROM __want_cells")
        errors += self._diff("table_info", index.table_info.toArrow(), oracle.table_info_sql())
        errors += self._diff("col_flags", index.col_flags.toArrow(), oracle.is_numeric_sql())
        errors += self._diff(
            "row_keys ids", index.row_keys.select("table_id", "row_id").toArrow(),
            "SELECT DISTINCT table_id, row_id FROM __want_cells",
        )

        ids = self.con.execute(
            "SELECT DISTINCT table_id, row_id FROM __want_cells ORDER BY 1, 2"
        ).fetchall()
        sample = random.Random(f"rowkeys:{seed}").sample(ids, min(n_sample_rows, len(ids)))
        cond = F.lit(False)
        for tid, rid in sample:
            cond = cond | ((F.col("table_id") == tid) & (F.col("row_id") == rid))
        got = {
            (r["table_id"], r["row_id"]): (r["super_key_hi"], r["super_key_lo"])
            for r in index.row_keys.filter(cond).collect()
        }
        for tid, rid in sample:
            hi = lo = 0
            for (tok,) in self.con.execute(
                "SELECT tokenized FROM __want_cells WHERE table_id = ? AND row_id = ?",
                [tid, rid],
            ).fetchall():
                h, l = xash_hi_lo(tok)
                hi, lo = hi | h, lo | l
            if got.get((tid, rid)) != (hi, lo):
                errors.append(f"row_keys: key of row ({tid}, {rid}) is {got.get((tid, rid))}, "
                              f"want {(hi, lo)}")
        return errors

    # ------------------------------------------------------------------ enrich
    def check_enrichment(self, result, op) -> list[str]:
        """The enriched columns, in long form (mate_row_id, table_col_id,
        value), equal the oracle's materialised enrichment."""
        winners = [c[len("ext_"):] for c in result.enriched.columns if c.startswith("ext_")]
        if not winners:
            return ["enrichment: no feature columns"]
        stack = ", ".join(f"'{w}', `ext_{w}`" for w in winners)
        got = (
            result.enriched.selectExpr(
                "mate_row_id", f"stack({len(winners)}, {stack}) as (table_col_id, value)"
            )
            .filter(F.col("value").isNotNull())
            .toArrow()
        )
        want = oracle.cocoa_multicolumn_sql(
            f"(SELECT * FROM {op.table} WHERE {op.predicate})",
            list(op.query_columns), op.target, list(op.order_by),
            k=ENRICH_K, k_c=ENRICH_K_C, k_features=ENRICH_K_FEATURES, materialize=True,
        )
        return self._diff(f"enrichment {op.table} {op.predicate}", got, want)
