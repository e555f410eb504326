"""ExecutionContext — the engine's front door.

Mirrors the reference's ``ExecutionContext``
(``/root/reference/src/execution/context.rs:33-102``): a registry of
named datasources plus a ``sql()`` entry point. The difference is the
execution model: the reference compiles LogicalPlan → closure pipelines
and pulls batches on one thread; here every registered source is a lazy
Spark DataFrame, ``sql()`` delegates to ``spark.sql`` (Catalyst parses,
optimizes — predicate pushdown, column pruning, join selection — and
Tungsten executes with whole-stage codegen across all executors).

Only the reference's custom DDL (``CREATE EXTERNAL TABLE``) is
intercepted; see :mod:`datafusion_archive_spark.ddl`.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datafusion_archive_spark import ddl as _ddl
from datafusion_archive_spark import types as _types

#: Table names the driver's testdata provides (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _as_struct_type(
    schema: T.StructType | Iterable[tuple[str, str]] | None,
) -> T.StructType | None:
    """Accept a StructType or an iterable of (name, logical-type-tag)
    pairs — the Field::new-style declaration of the reference
    (``examples/csv_sql.rs:33-42``)."""
    if schema is None or isinstance(schema, T.StructType):
        return schema
    return T.StructType([_types.field(n, t) for n, t in schema])


class ExecutionContext:
    """Registry + SQL entry point (reference ``context.rs:33-102``)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._datasources: dict[str, DataFrame] = {}

    # -- registration (reference register_datasource, context.rs:100-102) --

    def register_datasource(self, name: str, df: DataFrame) -> DataFrame:
        """Register any DataFrame as a named table."""
        self._datasources[name] = df
        df.createOrReplaceTempView(name)
        return df

    def register_csv(
        self,
        name: str,
        path: str,
        schema: T.StructType | Iterable[tuple[str, str]] | None = None,
        header: bool = True,
        delimiter: str = ",",
        **options: str,
    ) -> DataFrame:
        """CSV source (reference ``CsvDataSource``,
        ``src/execution/datasource.rs:33-58``). Unlike the reference —
        which hard-codes ``has_header=true`` and silently eats the first
        row of headerless files (SURVEY.md §7.9) — the header flag is
        explicit and honored. Schema is caller-declared, never inferred,
        matching the reference's fixed-schema model (§1.3).

        Extra ``options`` pass through to the reader. Data whose
        strings embed newlines needs ``multiLine="true"`` and
        ``escape='"'`` to round-trip the RFC-4180 quoting our write
        path emits — note multiLine makes each file non-splittable,
        so keep it off (the default) for large clean tables."""
        reader = self.spark.read.option("header", str(header).lower()).option(
            "delimiter", delimiter
        )
        # RFC-4180 quote doubling, matching our own write path (and
        # excel/duckdb/pandas output); override escape='\\' for files
        # using backslash escapes
        if "escape" not in options:
            reader = reader.option("escape", '"')
        for k, v in options.items():
            reader = reader.option(k, v)
        st = _as_struct_type(schema)
        if st is not None:
            reader = reader.schema(st)
        else:
            reader = reader.option("inferSchema", "true")
        return self.register_datasource(name, reader.csv(path))

    def register_parquet(self, name: str, path: str) -> DataFrame:
        """Parquet source — declared-only in the reference
        (``src/execution/datasource.rs:87-92``, ``ROADMAP.md:8``); fully
        functional here. Self-describing schema; Catalyst pushes filters
        and projected columns into the scan."""
        return self.register_datasource(name, self.spark.read.parquet(path))

    def register_parquet_evolving(self, name: str, path: str) -> DataFrame:
        """Parquet source with schema evolution on read
        (``mergeSchema``): batches written with added columns union
        into one schema, older files reading the new columns as NULL —
        the append-only lake pattern where ingestion schemas drift."""
        return self.register_datasource(
            name,
            self.spark.read.option("mergeSchema", "true").parquet(path),
        )

    def register_orc(self, name: str, path: str) -> DataFrame:
        """ORC source — beyond the reference grammar; self-describing
        schema with the same pushdown behavior as parquet (Spark's
        native vectorized ORC reader)."""
        return self.register_datasource(name, self.spark.read.orc(path))

    def register_ndjson(
        self,
        name: str,
        path: str,
        schema: T.StructType | Iterable[tuple[str, str]] | None = None,
        **options: str,
    ) -> DataFrame:
        """Newline-delimited JSON source — ``STORED AS NDJSON`` in the
        reference grammar (``src/dfparser.rs:33,175-176``), never wired
        there (``context.rs:63``).

        Extra ``options`` pass through to the reader — e.g.
        ``mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt"``
        (add a ``_corrupt STRING`` field to the declared schema) to
        quarantine malformed lines into a column instead of failing
        the batch, the standard large-scale ingestion posture."""
        reader = self.spark.read
        for k, v in options.items():
            reader = reader.option(k, v)
        st = _as_struct_type(schema)
        if st is not None:
            reader = reader.schema(st)
        return self.register_datasource(name, reader.json(path))

    def register_xml(
        self,
        name: str,
        path: str,
        row_tag: str = "row",
        schema: T.StructType | Iterable[tuple[str, str]] | None = None,
    ) -> DataFrame:
        """XML source (Spark 4 native reader) — beyond the reference
        grammar, same declared-schema treatment as CSV. ``row_tag``
        names the repeating element (``STORED AS XML ROWTAG 'row'``
        in the DDL extension)."""
        reader = self.spark.read.format("xml").option("rowTag", row_tag)
        st = _as_struct_type(schema)
        if st is not None:
            reader = reader.schema(st)
        return self.register_datasource(name, reader.load(path))

    def register_binary(
        self,
        name: str,
        path: str,
        path_glob: str | None = None,
    ) -> DataFrame:
        """Binary-file source (Spark's built-in ``binaryFile``
        format) — the ingestion path for the multimodal family
        (operators/multimodal.py): each file becomes a row of (path,
        modificationTime, length, content BINARY). ``path_glob``
        filters by filename pattern (e.g. ``'*.png'``). Metadata-only
        queries prune the ``content`` column at the scan, so listings
        never read payload bytes."""
        reader = self.spark.read.format("binaryFile")
        if path_glob:
            reader = reader.option("pathGlobFilter", path_glob)
        return self.register_datasource(name, reader.load(path))

    def register_fixedwidth(
        self,
        name: str,
        path: str,
        widths: str,
        schema: T.StructType | Iterable[tuple[str, str]] | None = None,
    ) -> DataFrame:
        """Fixed-width text source via the custom Python DataSource
        (sources/pydatasource.py) — the Spark analog of plugging a new
        ``trait DataSource`` implementation into the reference engine
        (``src/execution/datasource.rs:31-43``). ``widths`` is the
        comma-separated column-width list; with no declared schema all
        columns arrive as strings c0..cN."""
        from datafusion_archive_spark.sources import pydatasource

        pydatasource.register(self.spark)
        reader = self.spark.read.format("fixedwidth").option(
            "widths", widths
        ).option("path", path)
        st = _as_struct_type(schema)
        if st is not None:
            reader = reader.schema(st)
        return self.register_datasource(name, reader.load())

    def register_testdata(self, sf_dir: str) -> None:
        """Register the driver's TPC-H-ish parquet tables from a
        scale-factor directory (TESTDATA.md)."""
        for t in TESTDATA_TABLES:
            self.register_parquet(t, f"{sf_dir}/{t}.parquet")

    # -- catalog --

    def table(self, name: str) -> DataFrame:
        """Reference TableScan: look up a registered datasource by name
        (``src/logicalplan.rs:340-345``)."""
        if name in self._datasources:
            return self._datasources[name]
        return self.spark.table(name)

    def tables(self) -> list[str]:
        return sorted(self._datasources)

    # -- SQL entry point (reference ExecutionContext::sql, context.rs:44-98) --

    def sql(self, query: str) -> DataFrame | None:
        """Run a SQL statement.

        ``CREATE EXTERNAL TABLE`` (the reference's one dialect extension,
        parsed at ``src/dfparser.rs:101-208`` but never executed there —
        ``context.rs:48-76`` is commented out) is intercepted and
        registers a source, returning None. Everything else goes to
        ``spark.sql`` — Spark's parser covers a strict superset of the
        reference's ANSI subset (sqlparser 0.2.1, ``Cargo.toml:34``).
        """
        if _ddl.is_create_external_table(query):
            stmt = _ddl.parse_create_external_table(query)
            self._execute_ddl(stmt)
            return None
        return self.spark.sql(query)

    def _execute_ddl(self, stmt: _ddl.CreateExternalTable) -> DataFrame:
        schema = (
            T.StructType(
                [
                    T.StructField(n, _types.spark_type_for_sql(t), True)
                    for n, t in stmt.columns
                ]
            )
            if stmt.columns
            else None
        )
        if stmt.file_format == "CSV":
            return self.register_csv(
                stmt.name, stmt.location, schema=schema, header=stmt.header_row
            )
        if stmt.file_format == "NDJSON":
            return self.register_ndjson(stmt.name, stmt.location, schema=schema)
        if stmt.file_format == "PARQUET":
            return self.register_parquet(stmt.name, stmt.location)
        if stmt.file_format == "ORC":
            return self.register_orc(stmt.name, stmt.location)
        if stmt.file_format == "FIXEDWIDTH":
            return self.register_fixedwidth(
                stmt.name, stmt.location, stmt.widths, schema=schema
            )
        if stmt.file_format == "XML":
            return self.register_xml(
                stmt.name,
                stmt.location,
                row_tag=stmt.row_tag or "row",
                schema=schema,
            )
        raise ValueError(f"unsupported file format: {stmt.file_format}")

    # -- write path (reference PhysicalPlan::Write, physicalplan.rs:25-29,
    #    declared-only there; ROADMAP.md:46) --

    def write(
        self,
        df: DataFrame,
        path: str,
        file_format: str = "parquet",
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        **options: str,
    ) -> None:
        writer = df.write.mode(mode).format(file_format.lower())
        if file_format.lower() == "csv" and "escape" not in options:
            # RFC-4180 quote doubling instead of Spark's backslash
            # default, so any CSV consumer (and our own reader with
            # escape='"') round-trips embedded quotes exactly
            writer = writer.option("escape", '"')
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.save(path)
