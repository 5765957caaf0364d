"""Independent reference results the correctness gates compare against.

The LWW oracle is DuckDB over the raw WAL files, the same SQL shape as
the catalog's own oracles (``plans/common.py``): the newest event per
key by ``(ts, seq)``, deletes dropped, text stripped of NUL bytes and
NFC-normalized by DuckDB's built-in ``nfc_normalize``.
"""

from __future__ import annotations

import duckdb
import pandas as pd

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def lww_sql(wal_files: list[str]) -> str:
    files = ", ".join(f"'{f}'" for f in wal_files)
    return f"""
SELECT conv_id, turn_idx, role,
       nfc_normalize(replace(text, chr(0), '')) AS text, tool, ts
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
  FROM read_parquet([{files}], union_by_name=true)
) WHERE rn = 1 AND op <> 'D'
"""


def lww_oracle(wal_files: list[str]) -> pd.DataFrame:
    with duckdb.connect() as con:
        return con.sql(lww_sql(wal_files)).df()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive form: columns by name, rows by every value,
    timestamps as UTC, floats rounded to hash-stable precision."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c], utc=True)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same_rows(ours: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the difference."""
    a, b = canon(ours), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)} oracle rows"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                      check_exact=False, rtol=1e-6,
                                      atol=1e-9)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def catalog_oracle(sql: str, sf_dir: str, tables: list[str],
                   engine_log_glob: str, oracle_log_glob: str
                   ) -> pd.DataFrame:
    """Run one REGISTRY oracle over the tables in ``sf_dir``, with the
    catalog's hard-wired changelog path pointed at the log the engine
    actually read."""
    with duckdb.connect() as con:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
        return con.sql(sql.replace(oracle_log_glob, engine_log_glob)).df()
