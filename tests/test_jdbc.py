"""Real JDBC scan/sink tests (SURVEY.md §2.1 S8, §2.2 K7) against embedded
Apache Derby — the JDBC driver that ships inside Spark's JVM, so the actual
``spark.read.jdbc`` / ``df.write.jdbc`` code paths run, not a stand-in."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bioeco_portal_etl_spark.sources.jdbc import read_jdbc_query, read_jdbc_table


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


def test_jdbc_write_overwrite_and_read_table(spark, derby_url):
    """K7 overwrite + S8 table scan round-trip."""
    df = spark.createDataFrame(
        [(1, "phytoplankton"), (2, "seagrass")], "id int, short_name string"
    )
    df.write.jdbc(derby_url, "eovs", mode="overwrite")
    # overwrite again with different content — K7 semantics
    df2 = spark.createDataFrame([(3, "zooplankton")], "id int, short_name string")
    df2.write.jdbc(derby_url, "eovs", mode="overwrite")
    back = read_jdbc_table(spark, derby_url, "eovs")
    assert [(r.id, r.short_name) for r in back.collect()] == [(3, "zooplankton")]


def test_jdbc_query_pushdown(spark, derby_url):
    """S8 query-pushdown scan: the join/filter runs database-side
    (eov_to_keywords.Rmd:44 pattern)."""
    links = spark.createDataFrame(
        [(11, 1), (11, 2), (12, 1)], "layer_id int, eov_id int"
    )
    dim = spark.createDataFrame(
        [(1, "phyto"), (2, "seagrass")], "id int, name string"
    )
    links.write.jdbc(derby_url, "links", mode="overwrite")
    dim.write.jdbc(derby_url, "eov_dim", mode="overwrite")
    # Derby uppercases unquoted identifiers; Spark created them quoted
    # lowercase, so the pushdown query quotes them too.
    q = (
        'SELECT l."layer_id" AS "layer_id", e."name" AS "name" FROM links l '
        'LEFT JOIN eov_dim e ON l."eov_id" = e."id" WHERE l."layer_id" = 11'
    )
    got = read_jdbc_query(spark, derby_url, q)
    rows = sorted((r.layer_id, r.name) for r in got.collect())
    assert rows == [(11, "phyto"), (11, "seagrass")]


def test_jdbc_partitioned_read(spark, derby_url):
    """S8 scale path: partitioned parallel scan (numPartitions connections,
    range-split on the partition column)."""
    df = spark.range(100).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).cast("int").alias("v")
    )
    df.write.jdbc(derby_url, "wide", mode="overwrite")
    back = read_jdbc_table(
        spark, derby_url, "wide",
        partition_column="k", lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 100
    assert back.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(100))


def test_stage_and_merge_upsert(spark, derby_url):
    """K5 scale path: bulk stage + one server-side MERGE — updates existing
    keys, inserts new ones, leaves unrelated rows untouched."""
    from bioeco_portal_etl_spark.sinks.jdbc_upsert import stage_and_merge

    base = spark.createDataFrame(
        [(1, "old-title"), (2, "keep-me")], "id int, title string"
    )
    base.write.jdbc(derby_url, "resources", mode="overwrite")
    delta = spark.createDataFrame(
        [(1, "new-title"), (3, "brand-new")], "id int, title string"
    )
    stage_and_merge(delta, derby_url, "resources", ["id"], ["title"])
    back = read_jdbc_table(spark, derby_url, "resources")
    rows = dict((r.id, r.title) for r in back.collect())
    assert rows == {1: "new-title", 2: "keep-me", 3: "brand-new"}
    # idempotent under re-run (task-retry safety)
    stage_and_merge(delta, derby_url, "resources", ["id"], ["title"])
    back2 = read_jdbc_table(spark, derby_url, "resources")
    assert dict((r.id, r.title) for r in back2.collect()) == rows


def test_stage_and_merge_string_key_derby(spark, derby_url):
    """A string key through the ``derby`` dialect: Spark stages strings as
    CLOB, which Derby cannot compare in the MERGE's ON clause unless the
    key is cast to VARCHAR."""
    from bioeco_portal_etl_spark.sinks.jdbc_upsert import stage_and_merge

    base = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    base.write.jdbc(derby_url, "skeyed", mode="overwrite")
    delta = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v int")
    stage_and_merge(delta, derby_url, "skeyed", ["k"], ["v"], dialect="derby")
    back = read_jdbc_table(spark, derby_url, "skeyed")
    assert dict((r.k, r.v) for r in back.collect()) == {"a": 1, "b": 20, "c": 3}


def test_stage_and_merge_int_key_derby(spark, derby_url):
    """An INTEGER key through the ``derby`` dialect stays uncast: Derby
    cannot convert INTEGER to VARCHAR."""
    from bioeco_portal_etl_spark.sinks.jdbc_upsert import stage_and_merge

    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    base.write.jdbc(derby_url, "ikeyed", mode="overwrite")
    delta = spark.createDataFrame([(2, "bb"), (3, "c")], "id int, v string")
    stage_and_merge(delta, derby_url, "ikeyed", ["id"], ["v"], dialect="derby")
    back = read_jdbc_table(spark, derby_url, "ikeyed")
    assert dict((r.id, r.v) for r in back.collect()) == {1: "a", 2: "bb", 3: "c"}


def test_stage_and_merge_composite_key_derby(spark, derby_url):
    """A composite (int, string) key through the ``derby`` dialect: only
    the string (CLOB) half is cast. The uncast ``merge`` form fails on
    ``CLOB = CLOB``, and casting every key fails on the INTEGER half."""
    from bioeco_portal_etl_spark.sinks.jdbc_upsert import stage_and_merge

    base = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 11), (2, "a", 12)], "n int, k string, v int"
    )
    base.write.jdbc(derby_url, "ckeyed", mode="overwrite")
    delta = spark.createDataFrame(
        [(1, "b", 110), (2, "b", 13)], "n int, k string, v int"
    )
    stage_and_merge(delta, derby_url, "ckeyed", ["n", "k"], ["v"], dialect="derby")
    back = read_jdbc_table(spark, derby_url, "ckeyed")
    assert {(r.n, r.k): r.v for r in back.collect()} == {
        (1, "a"): 10, (1, "b"): 110, (2, "a"): 12, (2, "b"): 13,
    }


def test_dialect_matrix_exact_sql():
    """The exact statements each backend receives (round-3 ADVICE: Derby
    proves the mechanism, these pin the Postgres-family dialect the
    reference's GeoNode sink needs — with no Postgres in this env, the
    statements themselves are the asserted contract)."""
    from bioeco_portal_etl_spark.sinks.jdbc_upsert import (
        _merge_into,
        build_merge_sql,
        build_upsert_sql,
    )

    assert build_upsert_sql("base_resourcebase", ["id"], ["title", "abstract"]) == (
        "INSERT INTO base_resourcebase (id, title, abstract) VALUES (%s, %s, %s) "
        "ON CONFLICT (id) DO UPDATE SET title = EXCLUDED.title, "
        "abstract = EXCLUDED.abstract"
    )
    assert build_upsert_sql("t", ["a", "b"], ["v"], dialect="sqlite") == (
        "INSERT INTO t (a, b, v) VALUES (?, ?, ?) "
        "ON CONFLICT (a, b) DO UPDATE SET v = EXCLUDED.v"
    )
    assert build_upsert_sql("t", ["k"], ["v"], dialect="mysql") == (
        "INSERT INTO t (k, v) VALUES (%s, %s) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    assert build_merge_sql("tgt", "stg", ["id"], ["title"]) == (
        'MERGE INTO tgt t USING stg s ON t."id" = s."id" '
        'WHEN MATCHED THEN UPDATE SET "title" = s."title" '
        'WHEN NOT MATCHED THEN INSERT ("id", "title") VALUES (s."id", s."title")'
    )
    # Derby (stage_and_merge dialect="derby"): only the string key is cast
    assert _merge_into("tgt", "stg", ["id", "k"], ["title"], '"', ["k"]) == (
        'MERGE INTO tgt t USING stg s ON t."id" = s."id" AND '
        'CAST(t."k" AS VARCHAR(32672)) = CAST(s."k" AS VARCHAR(32672)) '
        'WHEN MATCHED THEN UPDATE SET "title" = s."title" '
        'WHEN NOT MATCHED THEN INSERT ("id", "k", "title") '
        'VALUES (s."id", s."k", s."title")'
    )
    # pre-15 Postgres path: INSERT..SELECT..ON CONFLICT, EXCLUDED refs
    assert build_merge_sql(
        "tgt", "stg", ["id"], ["title", "url"], dialect="postgres_onconflict"
    ) == (
        'INSERT INTO tgt ("id", "title", "url") '
        'SELECT "id", "title", "url" FROM stg '
        'ON CONFLICT ("id") DO UPDATE SET "title" = EXCLUDED."title", '
        '"url" = EXCLUDED."url"'
    )
    with pytest.raises(ValueError):
        build_upsert_sql("t", ["k"], ["v"], dialect="oracle8i")
    for dialect in ("nope", "derby"):
        with pytest.raises(ValueError):
            build_merge_sql("t", "s", ["k"], ["v"], dialect=dialect)


def test_postgres_onconflict_merge_executes():
    """The postgres_onconflict statement is RUNNABLE, not just well-formed:
    DuckDB implements the identical Postgres ON CONFLICT .. EXCLUDED
    semantics, so executing it there is a live check of the syntax family
    (unique-key requirement included)."""
    import duckdb

    from bioeco_portal_etl_spark.sinks.jdbc_upsert import build_merge_sql

    con = duckdb.connect()
    con.execute('CREATE TABLE tgt ("id" INT PRIMARY KEY, "title" TEXT)')
    con.execute("INSERT INTO tgt VALUES (1, 'old'), (2, 'keep')")
    con.execute('CREATE TABLE stg ("id" INT, "title" TEXT)')
    con.execute("INSERT INTO stg VALUES (1, 'new'), (3, 'ins')")
    con.execute(
        build_merge_sql("tgt", "stg", ["id"], ["title"], dialect="postgres_onconflict")
    )
    got = dict(con.execute('SELECT "id", "title" FROM tgt ORDER BY "id"').fetchall())
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_upsert_partitioned_sqlite_dialect(spark, tmp_path):
    """upsert_partitioned end-to-end through the generated sqlite-dialect
    statement (same ON CONFLICT family as Postgres, ? placeholders)."""
    import sqlite3

    from bioeco_portal_etl_spark.sinks.jdbc_upsert import upsert_partitioned

    db = str(tmp_path / "ups.db")
    with sqlite3.connect(db) as con:
        con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT)")
        con.execute("INSERT INTO t VALUES (1, 'old'), (2, 'keep')")
        con.commit()
    df = spark.createDataFrame([(1, "new"), (3, "ins")], "k int, v string")
    upsert_partitioned(
        df,
        lambda: sqlite3.connect(db),
        "t",
        ["k"],
        ["v"],
        dialect="sqlite",
    )
    with sqlite3.connect(db) as con:
        assert dict(con.execute("SELECT k, v FROM t ORDER BY k")) == {
            1: "new",
            2: "keep",
            3: "ins",
        }
