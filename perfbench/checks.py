"""Independent references the benchmark checks the engine's outputs
against: a DuckDB last-write-wins replay of the landed change log, the
engine's own DuckDB oracles (``__spark_entry__.oracle_sql()``), and the
order-insensitive frame hash the repository's contract tools use."""

from __future__ import annotations

import os
import re

import duckdb

from tools.drive_contract_lib import h, normalize

# lake columns compared per table; the system columns that are not a
# function of the log (__dp_update_ts, __part, ...) are left out
TABLE_COLUMNS = {
    "orders": ["__tenant_id", "__rds_id", "order_id", "customer_id",
               "status", "amount", "created_at_ms"],
    "accounts": ["__tenant_id", "__rds_id", "account_id", "name", "balance",
                 "tier", "region"],
}
_TYPES = {
    "order_id": "BIGINT", "customer_id": "BIGINT", "status": "VARCHAR",
    "amount": "DOUBLE", "created_at_ms": "BIGINT", "account_id": "BIGINT",
    "name": "VARCHAR", "balance": "DOUBLE", "tier": "INTEGER",
    "region": "VARCHAR",
}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # everything needed is built in; never reach for the network
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    # references run beside Spark during set-up: leave it the cores
    con.execute("SET threads = 2")
    return con


def frame_hash(pdf) -> tuple[int, str]:
    """(row count, order-independent hash) of a pandas frame."""
    return len(pdf), h(normalize(pdf))


def replay(con, batches: list[list[str]], table: str):
    """Expected lake content of ``table`` after applying ``batches``
    (lists of landed envelope files) in order: within a batch the
    latest ``__ts_ms`` per record key wins, a later batch overwrites an
    earlier one, a delete removes the key, rows whose key does not
    parse are left out. Returns a pandas frame of TABLE_COLUMNS plus
    ``__last_batch``."""
    rows = [(f, b) for b, files in enumerate(batches) for f in files]
    con.execute("CREATE OR REPLACE TEMP TABLE landed (file VARCHAR, batch INT)")
    con.executemany("INSERT INTO landed VALUES (?, ?)", rows)
    files = [f for f, _ in rows]
    fields = []
    for c in TABLE_COLUMNS[table][2:]:
        src = "created_at" if c == "created_at_ms" else c
        fields.append(
            f"TRY_CAST(json_extract_string(value, '$.payload.{src}') "
            f"AS {_TYPES[c]}) AS {c}"
        )
    key = TABLE_COLUMNS[table][2]
    sql = f"""
    WITH ev AS (
      SELECT l.batch, e.* FROM read_parquet(?, filename = true) e
      JOIN landed l ON e.filename = l.file
      WHERE e.__table = '{table}'),
    typed AS (
      SELECT batch, key, __topic, __op, __ts_ms,
        CAST(regexp_extract(__db, '(\\d+)', 1) AS INT) AS __tenant_id,
        CAST(regexp_extract(split_part(__topic, '.', 1), '(\\d+)', 1)
             AS INT) AS __rds_id,
        {", ".join(fields)}
      FROM ev),
    lww AS (
      SELECT * FROM typed QUALIFY row_number() OVER (
        PARTITION BY key, __topic, batch ORDER BY __ts_ms DESC) = 1),
    last AS (
      SELECT * FROM lww QUALIFY row_number() OVER (
        PARTITION BY key, __topic ORDER BY batch DESC) = 1)
    SELECT {", ".join(TABLE_COLUMNS[table])}, batch AS __last_batch
    FROM last WHERE __op <> 'd' AND {key} IS NOT NULL
    """
    return con.execute(sql, [files]).fetchdf()


def lake_frame(merge_table, table: str):
    """The lake table's compared columns as pandas (Spark read)."""
    from pyspark.sql import functions as F

    df = merge_table.read()
    cols = []
    for c in TABLE_COLUMNS[table]:
        if c == "created_at_ms":
            cols.append(F.unix_millis("created_at").alias(c))
        elif c in df.columns:
            cols.append(F.col(c))
        else:  # column added by evolution not reached yet
            cols.append(F.lit(None).cast("string").alias(c))
    return df.select(*cols).toPandas()


def quarantined_rows(lake_root: str, table: str) -> int:
    path = os.path.join(lake_root, "_quarantine", table)
    if not os.path.isdir(path):
        return 0
    con = connect()
    try:
        return con.execute(
            "SELECT count(*) FROM read_parquet(?)", [f"{path}/**/*.parquet"]
        ).fetchone()[0]
    finally:
        con.close()


def check_lake(run, tables: dict, batches: list[list[str]],
               lake_root: str, planted_bad: dict[str, int],
               evolve_batch: int | None) -> bool:
    """Every cdc_stream output check; returns True when all pass.
    ``tables``: lake table name -> MergeTable. ``evolve_batch``: index
    of the first batch carrying the added ``accounts.region`` column."""
    con = connect()
    ok = True
    try:
        for name, mt in sorted(tables.items()):
            want = replay(con, batches, name)
            got = lake_frame(mt, name)
            cols = TABLE_COLUMNS[name]
            ok &= run.check(
                f"lake.{name}.replay",
                frame_hash(got[cols]) == frame_hash(want[cols]),
                {"lake_rows": len(got), "replay_rows": len(want)},
            )
            if name == "accounts" and evolve_batch is not None:
                pre = want[want["__last_batch"] < evolve_batch]
                merged = pre[cols[:3]].merge(got, on=cols[:3], how="inner")
                ok &= run.check(
                    "lake.accounts.pre_evolution_null",
                    len(merged) > 0 and merged["region"].isna().all(),
                    {"pre_evolution_rows": len(merged)},
                )
            n_q = quarantined_rows(lake_root, name)
            ok &= run.check(
                f"lake.{name}.quarantine",
                n_q == planted_bad.get(name, 0),
                {"quarantined": n_q, "planted": planted_bad.get(name, 0)},
            )
    finally:
        con.close()
    return ok


# the engine's exact-sum idiom as its oracles write it (registry.sql_dsum
# and sql_davg): a decimal sum cast to double
_DECIMAL_SUM_TO_DOUBLE = re.compile(
    r"CAST\((SUM\(CAST\(.*? AS DECIMAL\(18,(\d+)\)\)\)) AS DOUBLE\)"
)


def oracle_hash(con, sql: str) -> tuple[int, str]:
    """(rows, hash) of an engine oracle run in DuckDB. DuckDB's
    CAST(DECIMAL AS DOUBLE) is not correctly rounded: an exact sum of
    10691670142.051841 comes back as 10691670142.05184, one ulp below
    the nearest double (which Spark returns). The decimal sums are
    therefore converted by Python's correctly rounded ``float(Decimal)``
    instead; everything else runs as written."""
    import duckdb.typing as T

    for scale in sorted({m.group(2) for m in _DECIMAL_SUM_TO_DOUBLE.finditer(sql)}):
        try:
            con.create_function(
                f"__exact_double_{scale}", float,
                [T.DuckDBPyType(f"DECIMAL(38,{scale})")], T.DOUBLE,
            )
        except duckdb.NotImplementedException:
            pass  # registered by an earlier oracle on this connection
    sql = _DECIMAL_SUM_TO_DOUBLE.sub(r"__exact_double_\2(\1)", sql)
    return frame_hash(con.execute(sql).fetchdf())


def register_tables(con, sf_dir: str) -> None:
    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet"):
            con.execute(
                f"CREATE OR REPLACE VIEW {fn[:-8]} AS "
                f"SELECT * FROM '{os.path.join(sf_dir, fn)}'"
            )
