"""The benchmark's workloads: what one pass runs and how its output is checked.

A workload is a list of operations. Each operation is timed on its own and
checked after its timer stops. ``Op.run`` returns the value that ``Op.check``
inspects; ``check`` raises ``OutputMismatch`` when the output is wrong.

* catalog workloads: one operation per catalog query. The query function
  builds a DataFrame (eager checkpoints and persists run here) and the
  benchmark collects it, as a client of the engine would. The collected rows
  are compared with the query's DuckDB oracle over the same parquet files,
  through the project's own signature (row count, column names,
  order-insensitive value hash).
* ``portal_etl``: a pass is the paper's ETL run over freshly generated
  survey, contacts and EuroSea CSVs, stage by stage; the stages depend on one
  another, so their order is fixed. The final stage checks invariants
  derived from the generator (``datagen.portal_inputs``).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sqlite3
from collections.abc import Callable
from dataclasses import dataclass

# A pass runs every query of the subset. The subset keeps a run (about 13 s
# of set-up and an 18 s pass on a 4-core host) well inside the benchmark's
# time budget (see README.md). Both queries read only the documents table.
CATALOG_WORKLOADS = {
    # Multi-round loops: many jobs per query, eager localCheckpoints and
    # persists (job-count and cache-lifecycle work shows here).
    "catalog_iterative": ["gr6_dup_components", "td10_containment"],
}

class OutputMismatch(AssertionError):
    """An operation returned output that fails its check."""


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], None]


# --------------------------------------------------------------------------
# catalog workloads
# --------------------------------------------------------------------------


class CatalogWorkload:
    """Queries of one catalog subset over the generated tables in
    ``data_dir``, run in the listed order."""

    # every query starts cold: no cache left by the previous one
    clear_before_each_op = True

    def __init__(self, spark, names: list[str], data_dir: str, tracer):
        from bioeco_portal_etl_spark import catalog

        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.queries = catalog.queries()
        self.oracles = catalog.oracle_sql()
        self.names = list(names)
        self._duck = None
        self._expected: dict[str, tuple] = {}

    def ops(self) -> list[Op]:
        return [
            Op(n, functools.partial(self._run, n), functools.partial(self._check, n))
            for n in self.names
        ]

    def _run(self, name: str):
        with self.tracer.span("catalog.build"):
            df = self.queries[name](self.spark, self.data_dir)
        with self.tracer.span("plan"):
            self.tracer.plan(df)
        with self.tracer.span("exec"):
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    def _duckdb(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            for f in sorted(os.listdir(self.data_dir)):
                table = f.removesuffix(".parquet")
                path = os.path.join(self.data_dir, f)
                self._duck.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        return self._duck

    def _check(self, name: str, result) -> None:
        from tests.oracle import duck_signature, frame_signature

        columns, rows = result
        got = frame_signature(columns, rows)
        if name not in self._expected:
            self._expected[name] = duck_signature(self._duckdb(), self.oracles[name])
        want = self._expected[name]
        if got[0] == 0 or got != want:
            raise OutputMismatch(
                f"{name}: rows/cols/hash {got[0]}/{got[1]}/{got[2]} "
                f"!= oracle {want[0]}/{want[1]}/{want[2]}"
            )

    def reset(self) -> None:
        pass

    def sink_totals(self) -> tuple[int, int, int]:
        return 0, 0, 0

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# --------------------------------------------------------------------------
# portal ETL
# --------------------------------------------------------------------------

# in-OBIS survey answers -> the status the update script writes
# (export_in_obis.R); the survey projection gains In_OBIS to feed it
_IN_OBIS_MAP = {
    "Yes, all data.": "Y", "Yes, some data.": "P", "No.": "N",
    "Planned.": "L", "Unknown.": "U",
}
_SYNC_COLS = ["identifier", "name", "abstract", "url", "temporal_resolution", "has_shapefile"]


class PortalWorkload:
    """One pass = the portal ETL over the CSVs in ``in_dir``, writing every
    sink under ``out_dir``. ``expected`` holds the generator's counts."""

    # the stages share the persisted programs frame; the pass starts cold
    clear_before_each_op = False

    def __init__(self, spark, in_dir: str, out_dir: str, expected: dict[str, int], tracer):
        self.spark, self.in_dir, self.out_dir = spark, in_dir, out_dir
        self.expected, self.tracer = expected, tracer
        self.layers_dir = os.path.join(out_dir, "layers")
        self.sqlite_path = os.path.join(out_dir, "portal.sqlite")
        self.derby_url = f"jdbc:derby:{os.path.join(out_dir, 'derby')};create=true"
        self.state: dict = {}

    def reset(self) -> None:
        """Create empty sinks for the pass to write."""
        for p in (self.layers_dir, os.path.join(self.out_dir, "fixtures")):
            shutil.rmtree(p, ignore_errors=True)
            os.makedirs(p)
        if os.path.exists(self.sqlite_path):
            os.remove(self.sqlite_path)
        con = sqlite3.connect(self.sqlite_path)
        con.executescript(
            "CREATE TABLE layers_layer (identifier TEXT PRIMARY KEY, name TEXT, "
            "abstract TEXT, url TEXT, temporal_resolution TEXT, has_shapefile INTEGER);"
            "CREATE TABLE layers_layer_eovs (layer_id INTEGER, eov_id INTEGER);"
        )
        con.close()
        self.state = {}

    def close(self) -> None:
        pass

    def ops(self) -> list[Op]:
        return [
            Op("sources.files.read", self.read, _no_check),
            Op("pipelines.programs", self.programs, _no_check),
            Op("pipelines.layers", self.layers, _no_check),
            Op("sinks.fixtures", self.fixtures, _no_check),
            # the last stage checks the outputs of the whole pass
            Op("sinks.jdbc_upsert", self.jdbc, self._check),
        ]

    def sink_totals(self) -> tuple[int, int, int]:
        """Files and bytes the sinks hold after the pass (the Derby database
        directory excluded: its size is the engine's, not the data's), and
        the rows the pass wrote, as its check counted them."""
        n = size = 0
        for dirpath, dirnames, files in os.walk(self.out_dir):
            dirnames[:] = [d for d in dirnames if d != "derby"]
            for f in files:
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
        return n, size, self.state.get("rows_written", 0)

    def read(self):
        from bioeco_portal_etl_spark.sources.files import read_csv

        with self.tracer.span("sources.files.read"):
            self.state["raw"] = {
                t: read_csv(self.spark, os.path.join(self.in_dir, f"{t}.csv"))
                for t in ("contacts", "survey", "eurosea")
            }

    def programs(self):
        from bioeco_portal_etl_spark.pipelines.layers import with_has_shapefile_from_sources
        from bioeco_portal_etl_spark.pipelines.programs import (
            combine, ingest_contacts, ingest_eurosea, ingest_survey,
        )
        from bioeco_portal_etl_spark.pipelines.reference_config import (
            CONTACTS_PROJECTION, EUROSEA_FREQ_MAP, EUROSEA_PROJECTION, SURVEY_PROJECTION,
        )

        raw = self.state["raw"]
        with self.tracer.span("pipelines.programs"):
            contacts = ingest_contacts(raw["contacts"], CONTACTS_PROJECTION)
            initial = ingest_survey(
                raw["survey"], contacts, {**SURVEY_PROJECTION, "In_OBIS": "in_obis"},
                abstract_col="name", source="survey",
            )
            eurosea = ingest_eurosea(
                raw["eurosea"], EUROSEA_PROJECTION, EUROSEA_FREQ_MAP,
                geometry="geojson", source="eurosea",
            )
            programs = with_has_shapefile_from_sources(combine(initial, eurosea)).persist()
            self.state["n_programs"] = programs.count()
        self.state["programs"] = programs

    def layers(self):
        from bioeco_portal_etl_spark.pipelines.layers import (
            layer_table_from_geojson, write_empty_layers, write_layers,
        )

        programs = self.state["programs"]
        with self.tracer.span("pipelines.layers"):
            feats = layer_table_from_geojson(programs.filter("has_shapefile"), attr_cols=["name"])
            write_layers(feats, self.layers_dir, attr_cols=["name"])
            write_empty_layers(programs, self.layers_dir)

    def fixtures(self):
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        from bioeco_portal_etl_spark.pipelines.programs import (
            eov_associations, in_obis_statements, users,
        )
        from bioeco_portal_etl_spark.sinks.fixtures import write_fixture
        from datagen import EOV_ORDER

        programs = self.state["programs"]
        fx = os.path.join(self.out_dir, "fixtures")
        with self.tracer.span("sinks.fixtures"):
            write_fixture(
                users(programs), "people.profile", "pk",
                ["first_name", "last_name", "email", "username", "is_superuser"],
                os.path.join(fx, "users.json"), order_by="pk",
            )
            assoc = eov_associations(programs, EOV_ORDER).withColumn(
                "pk", F.row_number().over(Window.orderBy("id", "eov_id"))
            )
            write_fixture(
                assoc, "layers.layer_eovs", "pk", ["id", "eov_id"],
                os.path.join(fx, "layer_eovs.json"), order_by="pk",
            )
            stmts = in_obis_statements(programs.filter(F.col("in_obis").isNotNull()), _IN_OBIS_MAP)
            with open(os.path.join(fx, "in_obis.sql"), "w") as f:
                f.writelines(r.stmt + "\n" for r in stmts.collect())
        self.state["assoc"] = assoc

    def jdbc(self):
        import pyspark.sql.functions as F

        from bioeco_portal_etl_spark.sinks.jdbc_upsert import (
            replace_set_partitioned, upsert_partitioned,
        )

        programs = self.state["programs"]
        sync = programs.select(
            *[F.col(c).cast("string") for c in _SYNC_COLS[:-1]],
            F.col("has_shapefile").cast("int").alias("has_shapefile"),
        )
        connect = functools.partial(sqlite3.connect, self.sqlite_path, timeout=60)
        with self.tracer.span("sinks.jdbc_upsert"):
            upsert_partitioned(
                sync, connect, "layers_layer", ["identifier"], _SYNC_COLS[1:], dialect="sqlite"
            )
            replace_set_partitioned(
                self.state["assoc"].select(F.col("id").alias("layer_id"), "eov_id"),
                connect, "layers_layer_eovs", "layer_id", ["eov_id"],
            )
            sync.write.jdbc(self.derby_url, "layers_layer", mode="overwrite")
        programs.unpersist()

    # -- output checks ------------------------------------------------------

    def _derby_count(self) -> int:
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.derby_url)
        try:
            rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM layers_layer")
            rs.next()
            return rs.getLong(1)
        finally:
            conn.close()

    def _check(self, _result) -> None:
        exp = self.expected
        got: dict[str, object] = {"programs": self.state["n_programs"]}
        con = sqlite3.connect(self.sqlite_path)
        try:
            got["sqlite_rows"], got["layers"] = con.execute(
                "SELECT COUNT(*), SUM(has_shapefile) FROM layers_layer"
            ).fetchone()
            got["sqlite_eov_rows"] = con.execute("SELECT COUNT(*) FROM layers_layer_eovs").fetchone()[0]
        finally:
            con.close()
        got["derby_rows"] = self._derby_count()
        fx = os.path.join(self.out_dir, "fixtures")
        with open(os.path.join(fx, "users.json")) as f:
            got["users"] = len(json.load(f))
        with open(os.path.join(fx, "layer_eovs.json")) as f:
            got["eov_associations"] = len(json.load(f))
        with open(os.path.join(fx, "in_obis.sql")) as f:
            got["in_obis_statements"] = sum(line.startswith("update ") for line in f)
        triples = 0
        for ident in os.listdir(self.layers_dir):
            base = os.path.join(self.layers_dir, ident, ident)
            triples += all(os.path.isfile(base + ext) for ext in (".shp", ".shx", ".dbf"))
        got["layer_triples"] = triples
        # rows in both sqlite tables and in Derby, fixture records, statements
        self.state["rows_written"] = sum(got[k] for k in (
            "sqlite_rows", "sqlite_eov_rows", "derby_rows", "users",
            "eov_associations", "in_obis_statements",
        ))
        want = {
            "programs": exp["programs"],
            # the sqlite upsert is keyed on identifier: equal counts mean unique ids
            "sqlite_rows": exp["programs"],
            "derby_rows": exp["programs"],
            "layer_triples": exp["programs"],
            "layers": exp["layers"],
            "users": exp["users"],
            "eov_associations": exp["eov_associations"],
            "sqlite_eov_rows": exp["eov_associations"],
            "in_obis_statements": exp["in_obis_statements"],
        }
        bad = {k: (got[k], v) for k, v in want.items() if got[k] != v}
        if bad:
            raise OutputMismatch(f"portal_etl (got, expected): {bad}")


def _no_check(_result) -> None:
    return None
