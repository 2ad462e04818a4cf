"""`jdbc` sink: batched writes via Spark's JDBC writer or a DB-API driver.

Reference: module/sink/JdbcSink.java:24-326 — batched prepared statements
with configurable batch size.  Spark: ``df.write.jdbc`` (batchsize option);
on the JVM path mutation-typed inputs degrade to append/overwrite since
Spark's JDBC writer has no MERGE — documented.

The DB-API path DOES interpret UnifiedMutation ops (SURVEY §2.10): with
``primaryKeys`` set, each row's ``__op__`` routes to a batched statement —
INSERT → plain insert, UPSERT/REPLACE → ``INSERT ... ON CONFLICT(keys)
DO UPDATE`` (sqlite3/postgres syntax), UPDATE → ``UPDATE … WHERE keys``,
DELETE → ``DELETE WHERE keys`` — preserving within-partition order
between op kinds by flushing batches at op boundaries.

With ``connectionFactory`` (``pkg.mod:fn`` → PEP 249 connection) the
write runs per partition (``sinks/drive.py``, per micro-batch for
streaming input): each executor task opens its own connection and issues
batched ``executemany`` inserts (batchSize rows per round-trip, one
commit per partition) — no jar required, e2e-testable with sqlite3.
``mode: overwrite`` clears the table driver-side first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pipeline_spark.registry import KIND_SINK, ModuleContext, module
from pipeline_spark.sinks.drive import write_partitions


def create_statement(
    table: str,
    columns: list[str],
    op: str,
    db: str,
    key_fields: list[str] | None = None,
    timestamp_cols: set[str] | frozenset[str] = frozenset(),
) -> str:
    """Dialect-specific write statement, reproducing the reference's
    JdbcUtil.createStatement (JdbcUtilTest.java:229-516 pins the exact
    strings): MySQL upserts via ON DUPLICATE KEY UPDATE (DO NOTHING =
    the self-assign-keys trick), PostgreSQL via MERGE with ::timestamp
    placeholder casts, H2 via MERGE ... KEY, SQLServer insert-only; the
    unsupported (db, op) combinations raise like the reference."""
    op = op.upper()
    db = db.upper()
    if op not in ("INSERT", "INSERT_OR_UPDATE", "INSERT_OR_DONOTHING"):
        raise ValueError(f"jdbc: unknown statement op '{op}'")
    if db not in ("MYSQL", "POSTGRESQL", "SQLSERVER", "H2"):
        raise ValueError(f"jdbc: unknown db dialect '{db}'")
    keys = list(key_fields or [])
    nonkey = [c for c in columns if c not in keys]
    collist = ",".join(columns)

    def ph(c: str) -> str:
        if db == "POSTGRESQL" and c in timestamp_cols:
            return "?::timestamp"
        return "?"

    values = ",".join(ph(c) for c in columns)
    insert = f"INSERT INTO {table} ({collist}) VALUES ({values})"
    if op == "INSERT":
        return insert
    if db == "SQLSERVER":
        raise ValueError(f"SQLServer does not support {op}.")
    if db == "MYSQL":
        # DO NOTHING = assign the keys to themselves on conflict
        update_cols = nonkey if op == "INSERT_OR_UPDATE" else keys
        sets = ",".join(f"`{c}` = VALUES(`{c}`)" for c in update_cols)
        return insert + " ON DUPLICATE KEY UPDATE " + sets
    if db == "H2":
        if op == "INSERT_OR_DONOTHING":
            raise ValueError("H2 does not support INSERT_OR_DONOTHING.")
        return (
            f"MERGE INTO {table} ({collist}) KEY ({','.join(keys)})"
            f" VALUES ({values})"
        )
    # POSTGRESQL: MERGE form
    on = " AND ".join(f"item.{k} = {table}.{k}" for k in keys)
    matched = (
        " UPDATE SET " + ",".join(f"{c} = item.{c}" for c in nonkey)
        if op == "INSERT_OR_UPDATE"
        else " DO NOTHING"
    )
    item_vals = ",".join(f"item.{c}" for c in columns)
    return (
        f"MERGE INTO {table} "
        f"USING (VALUES ({values})) AS item ({collist}) ON {on}"
        f" WHEN MATCHED THEN{matched}"
        f" WHEN NOT MATCHED THEN"
        f" INSERT ({collist})"
        f" VALUES ({item_vals})"
    )


def _dbapi_write(df: DataFrame, p: dict) -> None:
    from pipeline_spark.operators.ml import resolve_factory

    factory_path = p["connectionFactory"]
    table = p["table"]
    cols = df.columns
    batch = int(p.get("batchSize", 10_000))
    style = str(p.get("paramStyle", "qmark")).lower()
    ph = "%s" if style in ("format", "pyformat") else "?"
    sql = (
        f"INSERT INTO {table} ({', '.join(cols)}) "
        f"VALUES ({', '.join([ph] * len(cols))})"
    )
    params_snapshot = dict(p)

    if str(p.get("mode", "append")).lower() == "overwrite":
        conn = resolve_factory(factory_path)(params_snapshot)
        try:
            conn.cursor().execute(f"DELETE FROM {table}")
            conn.commit()
        finally:
            conn.close()

    keys = p.get("primaryKeys") or p.get("keyFields") or []
    op_field = p.get("mutationOpField", "__op__")
    mutational = bool(keys) and op_field in cols
    data_cols = [c for c in cols if c != op_field]
    nonkey = [c for c in data_cols if c not in keys]
    db_dialect = str(p.get("db", p.get("dialect", ""))).upper()
    if mutational:
        if db_dialect in ("MYSQL", "POSTGRESQL", "SQLSERVER", "H2"):
            from pyspark.sql import types as _T

            ts_cols = {
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, (_T.TimestampType,
                                           _T.TimestampNTZType))
            }
            ins_sql = create_statement(
                table, data_cols, "INSERT", db_dialect, keys, ts_cols
            ).replace("?", ph)
            ups_sql = create_statement(
                table, data_cols, "INSERT_OR_UPDATE", db_dialect, keys,
                ts_cols,
            ).replace("?", ph)
        else:
            ins_sql = (
                f"INSERT INTO {table} ({', '.join(data_cols)}) "
                f"VALUES ({', '.join([ph] * len(data_cols))})"
            )
            ups_sql = ins_sql + (
                f" ON CONFLICT({', '.join(keys)}) DO UPDATE SET "
                + ", ".join(f"{c} = excluded.{c}" for c in nonkey)
                if nonkey
                else f" ON CONFLICT({', '.join(keys)}) DO NOTHING"
            )
        upd_sql = (
            f"UPDATE {table} SET "
            + ", ".join(f"{c} = {ph}" for c in nonkey)
            + " WHERE "
            + " AND ".join(f"{k} = {ph}" for k in keys)
        )
        del_sql = f"DELETE FROM {table} WHERE " + " AND ".join(
            f"{k} = {ph}" for k in keys
        )

    def route(r) -> tuple[str, tuple]:
        if not mutational:
            return sql, tuple(r[c] for c in cols)
        op = (r[op_field] or "UPSERT").upper()
        if op == "INSERT":
            return ins_sql, tuple(r[c] for c in data_cols)
        if op in ("UPSERT", "REPLACE"):
            return ups_sql, tuple(r[c] for c in data_cols)
        if op == "UPDATE":
            return upd_sql, tuple(r[c] for c in nonkey) + tuple(r[k] for k in keys)
        if op == "DELETE":
            return del_sql, tuple(r[k] for k in keys)
        raise ValueError(f"jdbc sink: unknown mutation op '{op}'")

    def write_rows(rows):
        conn = resolve_factory(factory_path)(params_snapshot)
        try:
            cur = conn.cursor()
            # flush on statement change to preserve within-partition order
            pending_sql = None
            buf = []

            def flush():
                if buf:
                    cur.executemany(pending_sql, buf)
                    buf.clear()

            for r in rows:
                stmt, vals = route(r)
                if stmt is not pending_sql:
                    flush()
                    pending_sql = stmt
                buf.append(vals)
                if len(buf) >= batch:
                    flush()
            flush()
            conn.commit()
        finally:
            conn.close()

    write_partitions(df, write_rows)


@module("jdbc", kind=KIND_SINK)
def jdbc_sink(ctx: ModuleContext) -> dict[str, DataFrame]:
    p = ctx.params
    df = ctx.input
    table = p.get("table")
    if not table:
        raise ValueError("jdbc sink requires table")
    if p.get("connectionFactory"):
        _dbapi_write(df, p)
        return {"": df}
    url = p.get("url")
    if not url:
        raise ValueError("jdbc sink requires url (or connectionFactory)")
    props = {"batchsize": str(p.get("batchSize", 10_000))}
    if p.get("driver"):
        props["driver"] = p["driver"]
    if p.get("user"):
        props["user"] = p["user"]
    if p.get("password"):
        props["password"] = p["password"]
    df.write.mode(p.get("mode", "append")).jdbc(url, table, properties=props)
    return {"": df}
