"""Output checkers. Every check runs outside the timed window; each failed
check marks its operation failed, and ``failed / attempted`` is the run's
``failed_frac``."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from gen import GOLDEN_SCHEMA, Submission


def _null_counts(table: pa.Table) -> dict[str, int]:
    return {name: table.column(name).null_count for name in table.column_names}


def per_file_output(path: str, sub: Submission) -> list[str]:
    """One transformed file against its generator truth: schema (FIXTURES
    F6), row count, per-column nulls, provenance values, location values."""
    if not os.path.isfile(path):
        return [f"{path}: missing output"]
    table = pq.read_table(path)
    errs = []
    got = [(f.name, f.type) for f in table.schema]
    want = [(f.name, f.type) for f in GOLDEN_SCHEMA]
    if got != want:
        return [f"{path}: schema {got} != {want}"]
    if table.num_rows != sub.rows:
        errs.append(f"{path}: {table.num_rows} rows, want {sub.rows}")
    nulls = _null_counts(table)
    if nulls != sub.nulls:
        errs.append(f"{path}: nulls {nulls}, want {sub.nulls}")
    for col, want_v in (("round_id", sub.round_id), ("model_id", sub.model_id)):
        vals = pc.unique(table.column(col)).to_pylist()
        if vals != [want_v]:
            errs.append(f"{path}: {col} values {vals}, want [{want_v!r}]")
    locs = set(pc.unique(table.column("location")).drop_null().to_pylist())
    if locs != set(sub.locations):
        errs.append(f"{path}: locations {sorted(locs)}, want {sorted(sub.locations)}")
    return errs


def lake_output(path: str, subs: list[Submission]) -> list[str]:
    """The partitioned backfill lake against the summed truth: total rows,
    per-column nulls, and rows per (model_id, round_id) partition."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    errs = []
    want_rows = sum(s.rows for s in subs)
    if table.num_rows != want_rows:
        errs.append(f"lake: {table.num_rows} rows, want {want_rows}")
    want_nulls: dict[str, int] = {}
    for s in subs:
        for col, n in s.nulls.items():
            want_nulls[col] = want_nulls.get(col, 0) + n
    got_nulls = {c: n for c, n in _null_counts(table).items() if c in want_nulls}
    if got_nulls != want_nulls:
        errs.append(f"lake: nulls {got_nulls}, want {want_nulls}")
    counts = table.group_by(["model_id", "round_id"]).aggregate([([], "count_all")])
    got_parts = {
        (str(m), str(r)): n
        for m, r, n in zip(*(counts.column(c).to_pylist() for c in ("model_id", "round_id", "count_all")))
    }
    want_parts = {(s.model_id, s.round_id): s.rows for s in subs}
    if got_parts != want_parts:
        errs.append(f"lake: partitions {sorted(got_parts.items())[:4]}..., want {sorted(want_parts.items())[:4]}...")
    return errs


def tmp_dirs(out_dir: str) -> list[str]:
    """Leftover ``_tmp_*`` staging directories of the per-file sink."""
    if not os.path.isdir(out_dir):
        return []
    return sorted(n for n in os.listdir(out_dir) if n.startswith("_tmp_"))


class OracleCheck:
    """Query results against the DuckDB oracle, with the normalisation of
    ``tools/check_oracle.py`` (rounded, order-insensitive rows)."""

    def __init__(self, corpus_dir: str) -> None:
        import duckdb

        import check_oracle  # tools/ is on sys.path; see runner.py

        self.co = check_oracle
        self.con = duckdb.connect()
        for t in check_oracle.TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
        self.oracles = check_oracle.entry_mod.oracle_sql()
        self._want: dict[str, tuple[list[str], list[str]]] = {}

    def has_oracle(self, name: str) -> bool:
        return name in self.oracles or name in self.co.TOLERANCE_CHECKS

    def __call__(self, name: str, table: pa.Table) -> list[str]:
        errs = self.co._spark_nan_audit(table)
        if errs:
            return errs
        sdf = table.to_pandas()
        if name not in self.oracles:
            return self.co.TOLERANCE_CHECKS[name](sdf, self.con)
        if name not in self._want:
            odf = self.con.sql(self.oracles[name]).df()
            errs = self.co._oracle_nan_audit(self.con, self.oracles[name])
            if errs:
                return errs
            cols = sorted(odf.columns)
            self._want[name] = (cols, self.co.normalize(odf.to_dict("records"), cols))
        cols, want = self._want[name]
        if sorted(sdf.columns) != cols:
            return [f"{name}: columns {sorted(sdf.columns)} vs {cols}"]
        got = self.co.normalize(sdf.to_dict("records"), cols)
        if got != want:
            return [f"{name}: {len(got)} rows differ from the oracle's {len(want)}"]
        return []
