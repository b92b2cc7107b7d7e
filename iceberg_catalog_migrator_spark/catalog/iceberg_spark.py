"""Real-Iceberg adapter: the documented swap path from the local
pointer-table simulation to ``org.apache.iceberg.spark.SparkCatalog``.

The reference's core migration call is

    ((BaseTable) sourceCatalog.loadTable(id))
        .operations().current().metadataFileLocation()   // read pointer
    targetCatalog.registerTable(id, metadataFileLocation) // write pointer

(``api/.../CatalogMigrator.java:208-224``). On a Spark cluster with the
Iceberg runtime jar those two calls are one metadata-table scan and one
``system.register_table`` procedure call. This adapter implements the
:class:`~.base.Catalog` surface purely in terms of those Spark SQL
statements, so the migrator/CLI dataflow (scan → filter → register →
report) runs unchanged against real Iceberg catalogs.

No Iceberg jar ships in this container, so the adapter is constructed
only when :meth:`IcebergSparkCatalog.is_available` detects the runtime
(tests skip otherwise). The SQL renderers are pure functions and are
unit-tested regardless.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .base import (
    Catalog,
    Namespace,
    NamespaceAlreadyExistsError,
    NoSuchTableError,
    TableAlreadyExistsError,
)
from .identifiers import TableIdentifier

ICEBERG_SPARK_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def _q(part: str) -> str:
    """Backtick-quote one identifier part (Spark SQL quoting)."""
    return "`" + part.replace("`", "``") + "`"


def parse_identifier(s: str) -> tuple[str, ...]:
    """Split a dotted Spark identifier into parts, honoring backtick
    quoting (``a.`b.c`.d`` -> ``('a', 'b.c', 'd')``, doubled backticks
    inside a quoted part unescape to one). ``str.split('.')`` would
    mangle identifier parts that themselves contain dots."""
    parts: list[str] = []
    buf: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "`":
            i += 1
            while i < n:
                if s[i] == "`":
                    if i + 1 < n and s[i + 1] == "`":
                        buf.append("`")
                        i += 2
                        continue
                    i += 1
                    break
                buf.append(s[i])
                i += 1
        elif c == ".":
            parts.append("".join(buf))
            buf = []
            i += 1
        else:
            buf.append(c)
            i += 1
    parts.append("".join(buf))
    return tuple(parts)


def resolve_child_namespace(parent: Namespace, shown: str) -> Namespace:
    """Resolve one ``SHOW NAMESPACES IN <cat>.<parent>`` output row to a
    full namespace path.

    Spark returns the FULL catalog-relative path for nested namespaces
    (e.g. ``a.b`` when listing under parent ``a``), so naively prefixing
    the parent again would yield ``('a', 'a', 'b')``. Some catalog
    implementations instead return the child path relative to the
    parent; accept both by only prefixing when the returned path does
    not already extend the parent."""
    path = parse_identifier(shown)
    parent = tuple(parent)
    if parent and len(path) > len(parent) and path[: len(parent)] == parent:
        return path
    return (*parent, *path)


def _qualified(catalog: str, identifier: TableIdentifier) -> str:
    return ".".join(_q(p) for p in (catalog, *identifier.namespace, identifier.name))


def _ns(catalog: str, namespace: Namespace) -> str:
    return ".".join(_q(p) for p in (catalog, *namespace))


# ---------------------------------------------------------------- SQL
# renderers: one pure function per statement the adapter issues, so the
# exact SQL the swap path runs is pinned by unit tests with no jar.
def show_namespaces_sql(catalog: str, parent: Namespace = ()) -> str:
    scope = _ns(catalog, parent) if parent else _q(catalog)
    return f"SHOW NAMESPACES IN {scope}"


def create_namespace_sql(catalog: str, namespace: Namespace) -> str:
    return f"CREATE NAMESPACE {_ns(catalog, namespace)}"


def show_tables_sql(catalog: str, namespace: Namespace) -> str:
    return f"SHOW TABLES IN {_ns(catalog, namespace)}"


def current_metadata_location_sql(catalog: str, identifier: TableIdentifier) -> str:
    # the latest metadata_log_entries row is the table's current
    # metadata.json — the same pointer
    # CatalogMigrator.java:208-211 reads via
    # operations().current().metadataFileLocation()
    return (
        f"SELECT file FROM {_qualified(catalog, identifier)}.metadata_log_entries "
        "ORDER BY timestamp DESC LIMIT 1"
    )


def register_table_sql(catalog: str, identifier: TableIdentifier, metadata_location: str) -> str:
    # CatalogMigrator.java:212-213 → the Iceberg-Spark register_table
    # procedure (public Iceberg docs: spark-procedures #register_table)
    table = ".".join((*identifier.namespace, identifier.name)).replace("'", "''")
    location = metadata_location.replace("'", "''")
    return (
        f"CALL {_q(catalog)}.system.register_table("
        f"table => '{table}', metadata_file => '{location}')"
    )


def drop_table_sql(catalog: str, identifier: TableIdentifier, purge: bool = False) -> str:
    # plain DROP keeps data/metadata files (entry-only delete, the
    # migrate-command contract); PURGE removes them
    suffix = " PURGE" if purge else ""
    return f"DROP TABLE {_qualified(catalog, identifier)}{suffix}"


class IcebergSparkCatalog(Catalog):
    """A :class:`Catalog` backed by a configured Spark Iceberg catalog.

    ``spark_catalog_name`` must name a session catalog configured as
    ``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``
    (plus its type/uri/warehouse properties) — standard public Iceberg-
    on-Spark configuration.
    """

    supports_namespaces = True
    supports_entry_only_delete = True

    def __init__(self, name: str, spark: SparkSession, spark_catalog_name: str | None = None):
        super().__init__(name)
        self._spark = spark
        self._catalog = spark_catalog_name or name

    # -- availability --------------------------------------------------
    @staticmethod
    def is_available(spark: SparkSession) -> bool:
        """True iff the Iceberg Spark runtime jar is on the classpath."""
        try:
            spark._jvm.java.lang.Class.forName(ICEBERG_SPARK_CATALOG_CLASS)  # noqa: SLF001
            return True
        except Exception:
            return False

    # -- namespaces ----------------------------------------------------
    def list_namespaces(self, parent: Namespace = ()) -> list[Namespace]:
        rows = self._spark.sql(show_namespaces_sql(self._catalog, parent)).collect()
        return [resolve_child_namespace(parent, r.namespace) for r in rows]

    def namespace_exists(self, namespace: Namespace) -> bool:
        try:
            self._spark.sql(f"DESCRIBE NAMESPACE {_ns(self._catalog, namespace)}").collect()
            return True
        except Exception:
            return False

    def create_namespace(
        self, namespace: Namespace, properties: dict | None = None
    ) -> None:
        self._refuse_namespace_properties(properties)
        if self.namespace_exists(namespace):
            raise NamespaceAlreadyExistsError(f"Namespace already exists: {namespace}")
        self._spark.sql(create_namespace_sql(self._catalog, namespace))

    # -- tables --------------------------------------------------------
    def list_tables(self, namespace: Namespace) -> list[TableIdentifier]:
        rows = self._spark.sql(show_tables_sql(self._catalog, namespace)).collect()
        return [TableIdentifier(namespace, r.tableName) for r in rows]

    def table_exists(self, identifier: TableIdentifier) -> bool:
        return self._spark.catalog.tableExists(
            ".".join((self._catalog, *identifier.namespace, identifier.name))
        )

    def load_table_metadata_location(self, identifier: TableIdentifier) -> str:
        rows = self._spark.sql(
            current_metadata_location_sql(self._catalog, identifier)
        ).collect()
        if not rows:
            raise NoSuchTableError(f"Table does not exist: {identifier}")
        return rows[0].file

    def register_table(self, identifier: TableIdentifier, metadata_location: str) -> None:
        if self.table_exists(identifier):
            raise TableAlreadyExistsError(f"Table already exists: {identifier}")
        self._spark.sql(register_table_sql(self._catalog, identifier, metadata_location))

    def drop_table(self, identifier: TableIdentifier, purge: bool = False) -> bool:
        if not self.table_exists(identifier):
            return False
        self._spark.sql(drop_table_sql(self._catalog, identifier, purge))
        return True
