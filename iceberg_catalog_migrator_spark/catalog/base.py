"""Catalog abstraction: the exact surface the migration dataflow needs.

This is the metadata-pointer model of Apache Iceberg catalogs (public
spec): a table is resolved to the location of its current
``metadata.json``; registering a table in another catalog records that
same location without touching data files
(reference ``api/.../CatalogMigrator.java:212-213``).

Since no Iceberg runtime jar ships in this environment, tables here are
"pointer tables": a spec ``metadata.json`` (:mod:`.table_metadata`)
holding the table location and schema, with the data under
``<location>/data`` (parquet, written/read by Spark). The dataflow
semantics — namespaces, listing, register, metadata-only drop — mirror
the Iceberg catalog API one-to-one, so swapping in
``org.apache.iceberg.spark.SparkCatalog`` on a cluster with the runtime
jar changes only this module.
"""

from __future__ import annotations

import os
from abc import ABC, abstractmethod

from .identifiers import TableIdentifier

Namespace = tuple[str, ...]

#: one policy, one text, every site (store, client, wire route): the
#: refusal is deliberate — exported metadata trees are content-addressed
#: and may be SHARED across tables/versions (and adopted tables
#: hard-link data), so a purge could delete files another table still
#: references; the reference migrator never purges either
#: (CatalogMigrator.java deleteEntriesFromSourceCatalog drops with
#: purge=false only)
PURGE_REFUSAL_MESSAGE = (
    "purge drops are never issued by the migrator: metadata trees are "
    "content-addressed and may be shared across tables/versions; drop "
    "without purge and garbage-collect storage explicitly"
)


class CatalogError(Exception):
    pass


class NoSuchTableError(CatalogError):
    pass


class NoSuchNamespaceError(CatalogError):
    pass


class TableAlreadyExistsError(CatalogError):
    pass


class NamespaceAlreadyExistsError(CatalogError):
    pass


class NamespaceNotEmptyError(CatalogError):
    """Dropping a namespace that still holds tables or descendant
    namespaces — the REST spec's 409 ``NamespaceNotEmptyException``."""


class UnprocessableError(CatalogError):
    """A semantically invalid request (e.g. a property named in both
    removals and updates) — the REST spec's 422
    ``UnprocessableEntityException``."""


class Catalog(ABC):
    """Catalog API surface used by the migrator (and nothing more)."""

    #: mirrors Iceberg ``SupportsNamespaces``; the migrator refuses
    #: catalogs without it (reference ``CatalogMigrator.java:59-79``).
    supports_namespaces: bool = True
    #: Hadoop-type catalogs cannot delete just the catalog entry —
    #: dropping removes metadata files (reference guard
    #: ``CatalogMigrator.java:75-78``).
    supports_entry_only_delete: bool = True

    def __init__(self, name: str) -> None:
        self.name = name

    # -- namespaces -----------------------------------------------------
    @abstractmethod
    def list_namespaces(self, parent: Namespace = ()) -> list[Namespace]: ...

    @abstractmethod
    def namespace_exists(self, namespace: Namespace) -> bool: ...

    @abstractmethod
    def create_namespace(
        self, namespace: Namespace, properties: dict | None = None
    ) -> None:
        """Create a namespace; ``properties`` (the REST spec's
        CreateNamespace payload) are OPTIONAL — stores without a
        properties column must refuse them loudly, never drop them."""
        ...

    # -- tables ----------------------------------------------------------
    @abstractmethod
    def list_tables(self, namespace: Namespace) -> list[TableIdentifier]: ...

    @abstractmethod
    def table_exists(self, identifier: TableIdentifier) -> bool: ...

    @abstractmethod
    def load_table_metadata_location(self, identifier: TableIdentifier) -> str:
        """Current metadata-file location for the table (one string —
        this is the only thing that travels in a migration)."""

    @abstractmethod
    def register_table(self, identifier: TableIdentifier, metadata_location: str) -> None:
        """Record an existing metadata file under this catalog. Never
        copies or rewrites data; raises ``TableAlreadyExistsError`` on
        double-register (semantics pinned by reference
        ``AbstractTestCatalogMigrator.java:187-196``)."""

    @abstractmethod
    def drop_table(self, identifier: TableIdentifier, purge: bool = False) -> bool:
        """Remove the catalog entry; with ``purge=False`` the metadata and
        data files MUST survive (they are owned by the target catalog
        after a migration)."""

    def _refuse_namespace_properties(self, properties: dict | None) -> None:
        """The one spelling of the 'no properties column' refusal —
        subclasses without storage for them call this first, enforcing
        the create_namespace contract (refuse loudly, never drop)."""
        if properties:
            raise CatalogError(
                f"Catalog {self.name} does not support namespace properties"
            )

    def rename_table(
        self, src: TableIdentifier, dst: TableIdentifier
    ) -> None:
        """Atomically move a table entry to a new identifier (the REST
        spec's RenameTable; the migration plane never renames, so this
        is OPTIONAL — stores without an atomic primitive refuse)."""
        raise CatalogError(
            f"Catalog {self.name} does not support renameTable"
        )

    def drop_namespace(self, namespace: Namespace) -> bool:
        """Remove an EMPTY namespace entry (the REST spec's
        DropNamespace); a namespace still holding tables or child
        namespaces refuses loudly. Returns whether an entry existed.
        OPTIONAL like rename_table."""
        raise CatalogError(
            f"Catalog {self.name} does not support dropNamespace"
        )

    def close(self) -> None:  # resource mgmt parity (AutoCloseable)
        pass

    # -- commit arbitration (data plane) ----------------------------------
    def swap_table_metadata_location(
        self,
        identifier: TableIdentifier,
        expected_location: str,
        new_location: str,
    ) -> bool:
        """Atomic compare-and-swap of a table's metadata pointer: move
        it to ``new_location`` iff it still reads ``expected_location``.
        Returns whether the swap won. This is the primitive Iceberg
        catalogs arbitrate commits with (and what the reference's
        ``registerTable`` relies on the target catalog for,
        `CatalogMigrator.java:208-224`): of N writers racing the same
        expected pointer, the backing store lets exactly one through.
        Catalogs without a transactional store don't offer it."""
        raise CatalogError(
            f"Catalog {self.name} does not support atomic pointer swap; "
            "commit through a transactional catalog (JDBC/NESSIE/REST/...)"
        )

    # -- table creation (fixtures / data plane) ---------------------------
    def create_table(
        self,
        identifier: TableIdentifier,
        schema_ddl: str,
        location: str,
        properties: dict | None = None,
    ) -> str:
        """Create a new pointer table: write v1 metadata under
        ``location/metadata/`` and register it. Returns the metadata
        location. Data files (if any) live under ``location/data``."""
        metadata_location = write_table_metadata(location, schema_ddl, version=1, properties=properties)
        self.register_table(identifier, metadata_location)
        return metadata_location


# -- metadata document helpers (shared by all catalog impls) -------------

METADATA_DIR = "metadata"
VERSION_HINT = "version-hint.text"


def write_table_metadata(
    table_location: str,
    schema_ddl: str,
    version: int | str,
    properties: dict | None = None,
    write_hint: bool = True,
    table_uuid: str | None = None,
) -> str:
    """Write the spec doc ``v<version>.metadata.json`` whose schema is
    ``schema_ddl`` (either DDL form) (+ version hint unless
    ``write_hint=False``); returns its path. ``version`` is a number,
    or a string such as ``"<snapshot-id>-<ref>"`` for a branch's doc.

    Every doc is created exclusively: an existing doc of that name
    raises ``FileExistsError`` and is left as it is, so a writer never
    rewrites (nor, cleaning up, unlinks) a doc another writer's pointer
    may name. ``write_hint=False`` is for CANDIDATE docs staged before a
    catalog register or compare-and-swap: the hint must only ever point
    at a doc that WON, or a losing racer's cleanup would leave it
    dangling at an unlinked file. ``table_uuid`` carries a table's
    identity forward across commits (Iceberg's stable table-uuid);
    omitted = a fresh identity, i.e. table creation."""
    from .table_metadata import build_metadata, schema_from_ddl, write_metadata

    path = os.path.join(table_location, METADATA_DIR, f"v{version}.metadata.json")
    schemas = [schema_from_ddl(schema_ddl)]
    write_metadata(path, build_metadata(table_location, schemas, table_uuid=table_uuid, properties=properties))
    if write_hint:
        write_version_hint(table_location, version)
    return path


def write_version_hint(table_location: str, version: int | str) -> None:
    """Point ``version-hint.text`` at doc ``version`` (atomic replace,
    so path-based readers never see a torn hint)."""
    meta_dir = os.path.join(table_location, METADATA_DIR)
    tmp = os.path.join(meta_dir, VERSION_HINT + f".tmp.{os.getpid()}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(meta_dir, VERSION_HINT))


def read_table_metadata(metadata_location: str) -> dict:
    """The doc at ``metadata_location``, read by the one lenient parser
    (:func:`.table_metadata.load_metadata`)."""
    from .table_metadata import load_metadata

    return load_metadata(metadata_location)[1]
