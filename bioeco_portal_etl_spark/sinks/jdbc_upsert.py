"""Keyed JDBC upsert / delete+insert sinks (SURVEY.md §2.2 K5-K7).

Reference parity: notebooks/index.Rmd:710-761 — per-row UPDATE of
base_resourcebase/layers_layer and DELETE+INSERT set-replacement of
layers_layer_eovs / base_contactrole; eov_to_keywords.Rmd:67 overwrite.

The reference issues ONE statement per row over a single connection (its
slowest path, SURVEY.md §3 EP3). Spark-first redesign:
  - the full target state is computed as a DataFrame (set-oriented);
  - writes happen in ``foreachPartition`` batches, one connection + one
    transaction per partition, executemany-style — N_partitions parallel
    connections instead of row-at-a-time;
  - ``upsert`` uses INSERT ... ON CONFLICT DO UPDATE (Postgres) so the
    operation is idempotent under task retries (Spark may re-run partitions).

DB drivers are gated: psycopg2 is not in this environment, so the writer
accepts any DB-API connection factory — tests inject sqlite3/duckdb.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType


def _batch(iterable, size):
    buf = []
    for x in iterable:
        buf.append(x)
        if len(buf) >= size:
            yield buf
            buf = []
    if buf:
        yield buf


# ---------------------------------------------------------------------------
# Dialect matrix — pure SQL builders, unit-asserted per backend in
# tests/test_jdbc.py (the GeoNode sink's real target is Postgres, which is
# not in this environment; Derby/sqlite prove the mechanism, these builders
# pin the exact statements each backend would receive).
# ---------------------------------------------------------------------------

UPSERT_PLACEHOLDER = {"postgres": "%s", "sqlite": "?", "duckdb": "?"}


def build_upsert_sql(
    table: str, key_cols: list[str], update_cols: list[str], dialect: str = "postgres"
) -> str:
    """Row-batch upsert statement for ``executemany``.

    postgres / sqlite / duckdb share the ``INSERT .. ON CONFLICT (keys) DO
    UPDATE SET c = EXCLUDED.c`` form (sqlite >= 3.24 adopted the Postgres
    syntax verbatim); only the DB-API placeholder differs (psycopg2 ``%s``
    vs ``?``). mysql uses ``ON DUPLICATE KEY UPDATE c = VALUES(c)`` and
    ignores the conflict-target list (the table's unique keys decide)."""
    cols = key_cols + update_cols
    if dialect == "mysql":
        ph = ", ".join(["%s"] * len(cols))
        sets = ", ".join(f"{c} = VALUES({c})" for c in update_cols)
        return (
            f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({ph}) "
            f"ON DUPLICATE KEY UPDATE {sets}"
        )
    if dialect not in UPSERT_PLACEHOLDER:
        raise ValueError(f"unknown upsert dialect: {dialect!r}")
    ph = ", ".join([UPSERT_PLACEHOLDER[dialect]] * len(cols))
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in update_cols)
    return (
        f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({ph}) "
        f"ON CONFLICT ({', '.join(key_cols)}) DO UPDATE SET {sets}"
    )


def build_merge_sql(
    target_table: str,
    staging_table: str,
    key_cols: list[str],
    update_cols: list[str],
    quote: str = '"',
    dialect: str = "merge",
) -> str:
    """Server-side staging->target reconciliation statement.

    ``merge``: ANSI ``MERGE INTO`` with an UNQUALIFIED update-target list —
    accepted by Postgres 15+ (which REJECTS ``SET t.col``), Derby, SQL
    Server, Oracle, DB2.
    ``postgres_onconflict``: pre-15 Postgres (the GeoNode deployments the
    reference targets run 9.x-13): ``INSERT .. SELECT .. ON CONFLICT DO
    UPDATE`` — requires a unique index on the key columns, which the
    MERGE path does not.
    Derby's MERGE depends on the key types, which only the staged frame
    knows: :func:`stage_and_merge` builds it for ``dialect="derby"``."""
    if dialect == "merge":
        return _merge_into(target_table, staging_table, key_cols, update_cols, quote, [])

    def q(c: str) -> str:
        return f"{quote}{c}{quote}"

    cols = ", ".join(q(c) for c in [*key_cols, *update_cols])
    if dialect == "postgres_onconflict":
        conflict = ", ".join(q(c) for c in key_cols)
        sets = ", ".join(f"{q(c)} = EXCLUDED.{q(c)}" for c in update_cols)
        return (
            f"INSERT INTO {target_table} ({cols}) "
            f"SELECT {cols} FROM {staging_table} "
            f"ON CONFLICT ({conflict}) DO UPDATE SET {sets}"
        )
    raise ValueError(f"unknown merge dialect: {dialect!r}")


def _merge_into(
    target_table: str,
    staging_table: str,
    key_cols: list[str],
    update_cols: list[str],
    quote: str,
    cast_keys: list[str],
) -> str:
    """The ANSI MERGE of :func:`build_merge_sql`, with the keys in
    ``cast_keys`` compared as ``VARCHAR(32672)``. Spark's JDBC writer
    creates string columns as CLOB on Derby, and Derby rejects
    ``CLOB = CLOB``; it also cannot convert INTEGER to VARCHAR, so only
    string keys may be cast. Postgres ``text`` keys keep the plain form
    so the join stays indexable."""
    def q(c: str) -> str:
        return f"{quote}{c}{quote}"

    def key(c: str, side: str) -> str:
        ref = f"{side}.{q(c)}"
        return f"CAST({ref} AS VARCHAR(32672))" if c in cast_keys else ref

    cols = ", ".join(q(c) for c in [*key_cols, *update_cols])
    on = " AND ".join(f"{key(c, 't')} = {key(c, 's')}" for c in key_cols)
    sets = ", ".join(f"{q(c)} = s.{q(c)}" for c in update_cols)
    vals = ", ".join(f"s.{q(c)}" for c in [*key_cols, *update_cols])
    return (
        f"MERGE INTO {target_table} t USING {staging_table} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def build_cdc_merge_sql(
    target_table: str,
    staging_table: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str,
    value_cols: list[str],
    delete_op: int = 2,
    quote: str = '"',
) -> str:
    """Changelog-apply MERGE (the Debezium/CDC sink statement): staged
    rows carry a monotone ``seq_col`` and an integer ``op_col``
    (0=insert, 1=update, ``delete_op``=delete); the target keeps
    (keys, seq, op, values) for live rows only.

      WHEN MATCHED AND s.seq > t.seq AND s.op = D  THEN DELETE
      WHEN MATCHED AND s.seq > t.seq               THEN UPDATE
      WHEN NOT MATCHED AND s.op <> D               THEN INSERT

    The seq guard makes re-delivery and batch re-ordering idempotent for
    live rows (stale updates never regress the target). Deletes are
    tombstone-LESS: a delete removes the row AND its seq, so an
    out-of-order arrival OLDER than the delete would re-insert — the
    standard simplification, sound under the per-key ordering CDC feeds
    guarantee (Debezium partitions by key). ``op_col`` is an INTEGER on
    purpose: Spark's JDBC writer maps StringType to CLOB on Derby, and
    Derby cannot compare CLOBs inside MERGE conditions."""
    def q(c: str) -> str:
        return f"{quote}{c}{quote}"

    all_cols = [*key_cols, seq_col, op_col, *value_cols]
    on = " AND ".join(f"t.{q(c)} = s.{q(c)}" for c in key_cols)
    guard = f"s.{q(seq_col)} > t.{q(seq_col)}"
    sets = ", ".join(
        f"{q(c)} = s.{q(c)}" for c in [seq_col, op_col, *value_cols]
    )
    cols = ", ".join(q(c) for c in all_cols)
    vals = ", ".join(f"s.{q(c)}" for c in all_cols)
    return (
        f"MERGE INTO {target_table} t USING {staging_table} s ON {on} "
        f"WHEN MATCHED AND {guard} AND s.{q(op_col)} = {delete_op} THEN DELETE "
        f"WHEN MATCHED AND {guard} THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED AND s.{q(op_col)} <> {delete_op} "
        f"THEN INSERT ({cols}) VALUES ({vals})"
    )


def stage_and_cdc_merge(
    df: DataFrame,
    jdbc_url: str,
    target_table: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str,
    value_cols: list[str],
    delete_op: int = 2,
    staging_table: str | None = None,
    jdbc_properties: dict[str, str] | None = None,
    quote: str = '"',
) -> None:
    """Apply one changelog batch to a JDBC target: compact the batch to
    its per-key LAST (max-seq) row — intra-batch I/U/D collapse, the
    operators/cdc.py net-effect step — bulk-stage that compacted set,
    then ONE server-side CDC MERGE (:func:`build_cdc_merge_sql`).

    This is the ``foreachBatch`` body of a streaming CDC sink: per
    micro-batch cost is one shuffle of the batch (not the target) plus a
    set-at-a-time merge the database applies with its own plan — the
    only pattern that holds up when the target table is orders of
    magnitude larger than the batch."""
    import uuid

    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.desc(seq_col))
    compact = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*key_cols, seq_col, op_col, *value_cols)
    )

    props = dict(jdbc_properties or {})
    staging = staging_table or f"{target_table}_cdc_{uuid.uuid4().hex[:12]}"
    compact.write.jdbc(jdbc_url, staging, mode="overwrite", properties=props)

    merge = build_cdc_merge_sql(
        target_table, staging, key_cols, seq_col, op_col, value_cols,
        delete_op=delete_op, quote=quote,
    )
    _merge_and_drop_staging(df.sparkSession, jdbc_url, props, merge, staging)


def _merge_and_drop_staging(
    spark, jdbc_url: str, props: dict[str, str], merge: str, staging: str
) -> None:
    """Run ``merge`` on one driver-side JDBC connection (auto-commit), then
    drop ``staging`` — on success AND failure, so a failed MERGE does not
    leak a uniquely-named full delta copy per retry."""
    jvm = spark._jvm
    if "driver" in props:
        jvm.org.apache.spark.sql.execution.datasources.jdbc.DriverRegistry.register(
            props["driver"]
        )
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        jprops.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(jdbc_url, jprops)
    try:
        stmt = conn.createStatement()
        try:
            stmt.executeUpdate(merge)
        finally:
            try:
                stmt.executeUpdate(f"DROP TABLE {staging}")
            except Exception:
                pass  # connection may be unusable after a merge error
            stmt.close()
    finally:
        conn.close()


def upsert_partitioned(
    df: DataFrame,
    connect: Callable[[], object],
    table: str,
    key_cols: list[str],
    update_cols: list[str],
    batch_size: int = 1000,
    dialect: str = "postgres",
) -> None:
    """Batched keyed upsert via foreachPartition.

    ``connect`` must be a picklable zero-arg factory returning a DB-API
    connection (executor-side; never share driver connections).
    """
    cols = key_cols + update_cols
    sql = build_upsert_sql(table, key_cols, update_cols, dialect)

    def write_partition(rows):
        conn = connect()
        try:
            cur = conn.cursor()
            for chunk in _batch((tuple(r[c] for c in cols) for r in rows), batch_size):
                cur.executemany(sql, chunk)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    df.select(*cols).foreachPartition(write_partition)


def replace_set_partitioned(
    df: DataFrame,
    connect: Callable[[], object],
    table: str,
    group_col: str,
    value_cols: list[str],
    batch_size: int = 1000,
    placeholder: str = "?",
) -> None:
    """K6 delete+insert set replacement: for each group key present in df,
    DELETE the group's rows then INSERT the new set — transactional per
    partition. Repartition by group first so a group never spans partitions
    (otherwise two partitions' deletes could interleave with inserts)."""
    cols = [group_col] + value_cols
    df = df.repartition(group_col)

    def write_partition(rows):
        rows = list(rows)
        if not rows:
            return
        conn = connect()
        try:
            cur = conn.cursor()
            groups = sorted({r[group_col] for r in rows})
            for chunk in _batch(groups, batch_size):
                cur.executemany(
                    f"DELETE FROM {table} WHERE {group_col} = {placeholder}",
                    [(g,) for g in chunk],
                )
            ph = ", ".join([placeholder] * len(cols))
            ins = f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({ph})"
            for chunk in _batch((tuple(r[c] for c in cols) for r in rows), batch_size):
                cur.executemany(ins, chunk)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    df.select(*cols).foreachPartition(write_partition)


def stage_and_merge(
    df: DataFrame,
    jdbc_url: str,
    target_table: str,
    key_cols: list[str],
    update_cols: list[str],
    staging_table: str | None = None,
    jdbc_properties: dict[str, str] | None = None,
    quote: str = '"',
    dialect: str = "merge",
) -> None:
    """K5 at scale: bulk-stage the new state via ``df.write.jdbc`` (parallel
    executor connections), then ONE server-side ``MERGE INTO`` from staging
    to target. Beats per-row upserts by orders of magnitude at 100 TB — the
    database applies the delta set-at-a-time, and Spark never round-trips
    row results.

    Contract:
      - the delta is deduplicated on ``key_cols`` before staging (standard
        MERGE errors if one target row matches multiple source rows);
      - ``target_table``/``staging_table`` are interpolated VERBATIM — pass
        the exact spelling (with quoting if needed) your database resolves;
        Spark's JDBC dialects typically create tables unquoted;
      - each run uses a unique staging name by default (concurrent runs
        against the same target cannot clobber each other's staging), and
        drops it afterwards, also when the MERGE fails;
      - credentials in ``jdbc_properties`` are used for BOTH the staging
        write and the driver-side MERGE connection;
      - the MERGE runs on a plain auto-commit connection (no explicit
        commit — pgJDBC rejects commit() under autoCommit). ``dialect``
        picks the reconciliation statement: ``merge`` = ANSI MERGE with
        an UNQUALIFIED update-target list (Postgres 15+ rejects
        ``SET t.col``; also SQL Server/Oracle, and Derby for non-string
        keys); ``derby`` = that MERGE with the keys the staged frame
        types as strings cast out of CLOB (any key types, composite keys
        too);
        ``postgres_onconflict`` = INSERT..SELECT..ON CONFLICT for the
        pre-15 Postgres the reference's GeoNode deployments run.
      - driver classpath: works out of the box for drivers on Spark's system
        classpath (e.g. Derby). For jars added via --jars/--packages, pass
        ``jdbc_properties={"driver": "org.postgresql.Driver", ...}`` so the
        driver is registered through Spark's DriverRegistry first
        (DriverManager alone cannot see Spark's mutable classloader).
    """
    import uuid

    props = dict(jdbc_properties or {})
    staging = staging_table or f"{target_table}_stage_{uuid.uuid4().hex[:12]}"
    staged = df.select(*key_cols, *update_cols).dropDuplicates(key_cols)
    staged.write.jdbc(jdbc_url, staging, mode="overwrite", properties=props)

    if dialect == "derby":
        strings = {
            f.name for f in staged.schema.fields if isinstance(f.dataType, StringType)
        }
        merge = _merge_into(
            target_table, staging, key_cols, update_cols, quote,
            [c for c in key_cols if c in strings],
        )
    else:  # build_merge_sql rejects "derby": the key cast above is its only form
        merge = build_merge_sql(
            target_table, staging, key_cols, update_cols, quote=quote, dialect=dialect
        )
    _merge_and_drop_staging(df.sparkSession, jdbc_url, props, merge, staging)
