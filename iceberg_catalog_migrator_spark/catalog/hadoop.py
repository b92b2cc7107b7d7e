"""Filesystem ("hadoop"-type) catalog.

Directory layout under a warehouse root (public Iceberg HadoopCatalog
convention): each namespace level is a directory; a table is a directory
containing ``metadata/v<N>.metadata.json`` + ``version-hint.text``.

Semantics ported from the reference's test-pinned behavior:
- namespaces are IMPLICIT (a namespace exists iff its directory holds
  something) and there is no "empty namespace" —
  ``api/src/test/.../HadoopCatalogMigratorTest.java:51-57``;
- listing tables in the empty (root) namespace raises — the migrator
  warns and skips (``CatalogMigrator.java:118-129``);
- it cannot delete just the catalog entry: dropping a table removes its
  metadata files, so migrate-mode from a Hadoop source is forbidden
  (``CatalogMigrator.java:75-78``).
"""

from __future__ import annotations

import os
import shutil

from .base import (
    METADATA_DIR,
    VERSION_HINT,
    Catalog,
    CatalogError,
    Namespace,
    NamespaceAlreadyExistsError,
    NoSuchTableError,
    TableAlreadyExistsError,
    read_table_metadata,
    write_version_hint,
)
from .identifiers import TableIdentifier
from .table_metadata import write_metadata


class HadoopCatalog(Catalog):
    supports_namespaces = True
    supports_entry_only_delete = False

    def __init__(self, name: str, warehouse: str) -> None:
        super().__init__(name)
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- path helpers ----------------------------------------------------
    def _ns_path(self, namespace: Namespace) -> str:
        return os.path.join(self.warehouse, *namespace)

    def _table_path(self, identifier: TableIdentifier) -> str:
        return os.path.join(self._ns_path(identifier.namespace), identifier.name)

    @staticmethod
    def _is_table_dir(path: str) -> bool:
        return os.path.isfile(os.path.join(path, METADATA_DIR, VERSION_HINT))

    # -- namespaces -------------------------------------------------------
    def list_namespaces(self, parent: Namespace = ()) -> list[Namespace]:
        base = self._ns_path(parent)
        if not os.path.isdir(base):
            return []
        out = []
        for entry in sorted(os.listdir(base)):
            p = os.path.join(base, entry)
            if os.path.isdir(p) and not self._is_table_dir(p):
                out.append((*parent, entry))
        return out

    def namespace_exists(self, namespace: Namespace) -> bool:
        if not namespace:
            return False  # no empty namespace in hadoop catalogs
        p = self._ns_path(namespace)
        return os.path.isdir(p) and not self._is_table_dir(p)

    def create_namespace(
        self, namespace: Namespace, properties: dict | None = None
    ) -> None:
        self._refuse_namespace_properties(properties)
        if not namespace:
            raise CatalogError(f"Cannot create empty namespace in hadoop catalog {self.name}")
        if self.namespace_exists(namespace):
            raise NamespaceAlreadyExistsError(f"Namespace already exists: {'.'.join(namespace)}")
        os.makedirs(self._ns_path(namespace), exist_ok=True)

    # -- tables ------------------------------------------------------------
    def list_tables(self, namespace: Namespace) -> list[TableIdentifier]:
        if not namespace:
            # parity: Iceberg HadoopCatalog rejects listing the empty ns
            raise CatalogError(f"Cannot list tables of empty namespace in hadoop catalog {self.name}")
        base = self._ns_path(namespace)
        if not os.path.isdir(base):
            return []
        out = []
        for entry in sorted(os.listdir(base)):
            p = os.path.join(base, entry)
            if os.path.isdir(p) and self._is_table_dir(p):
                out.append(TableIdentifier(namespace=namespace, name=entry))
        return out

    def table_exists(self, identifier: TableIdentifier) -> bool:
        return self._is_table_dir(self._table_path(identifier))

    def _current_version(self, identifier: TableIdentifier) -> int:
        hint = os.path.join(self._table_path(identifier), METADATA_DIR, VERSION_HINT)
        if not os.path.isfile(hint):
            raise NoSuchTableError(f"Table does not exist: {identifier}")
        with open(hint, encoding="utf-8") as f:
            return int(f.read().strip())

    def load_table_metadata_location(self, identifier: TableIdentifier) -> str:
        v = self._current_version(identifier)
        return os.path.join(self._table_path(identifier), METADATA_DIR, f"v{v}.metadata.json")

    def register_table(self, identifier: TableIdentifier, metadata_location: str) -> None:
        """A hadoop catalog's entry IS the metadata file location, so
        registering a foreign metadata file only works when that file
        already lives under this catalog's layout for the identifier;
        otherwise the pointer is materialized as a fresh table directory
        holding a copy of the (tiny) metadata document — data files are
        never touched."""
        table_path = self._table_path(identifier)
        expected_prefix = os.path.join(table_path, METADATA_DIR) + os.sep
        if metadata_location.startswith(expected_prefix):
            return  # already in place (same-warehouse create/register)
        if self.table_exists(identifier):
            raise TableAlreadyExistsError(f"Table already exists: {identifier}")
        doc = read_table_metadata(metadata_location)
        try:
            write_metadata(os.path.join(table_path, METADATA_DIR, "v1.metadata.json"), doc)
        except FileExistsError:
            raise TableAlreadyExistsError(f"Table already exists: {identifier}") from None
        write_version_hint(table_path, 1)

    def drop_table(self, identifier: TableIdentifier, purge: bool = False) -> bool:
        if not self.table_exists(identifier):
            return False
        # hadoop catalogs cannot drop entry-only: removing the table
        # removes its metadata directory (this is exactly why the
        # reference forbids migrate-mode from a hadoop source).
        shutil.rmtree(self._table_path(identifier))
        return True
