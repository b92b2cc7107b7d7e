"""CatalogMigrator: bulk register/migrate of table metadata pointers.

API parity with the reference library entry point
(``api/.../CatalogMigrator.java``):
``get_matching_table_identifiers(regex)`` → ``register_table(id)``
(chainable, fail-soft) → ``result()``.

Improvements over the reference (which is a single-threaded for-loop,
``cli/.../BaseRegisterCommand.java:158``): ``register_tables`` can run
with a thread pool — catalog registration is RPC/IO-bound metadata work
of identifier cardinality, so driver-side concurrency is the idiomatic
scale path (the data plane never moves; there is nothing for executors
to do). Register is non-idempotent (a second attempt hits
AlreadyExists — ``AbstractTestCatalogMigrator.java:187-196``), so no
automatic retries are ever issued.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from threading import Lock

from .base import Catalog, CatalogError, Namespace
from .identifiers import TableIdentifier, compile_full_match

LOG = logging.getLogger("catalog_migration")


@dataclass
class CatalogMigrationResult:
    """Three ordered outcome lists (reference
    ``api/.../CatalogMigrationResult.java:23-30``)."""

    registered_table_identifiers: list[TableIdentifier] = field(default_factory=list)
    failed_to_register_table_identifiers: list[TableIdentifier] = field(default_factory=list)
    failed_to_delete_table_identifiers: list[TableIdentifier] = field(default_factory=list)

    def to_rows(self) -> list[tuple[str, str]]:
        """(identifier, status) rows — feed to spark.createDataFrame for
        groupable/joinable reporting."""
        return (
            [(str(i), "registered") for i in self.registered_table_identifiers]
            + [(str(i), "failed_to_register") for i in self.failed_to_register_table_identifiers]
            + [(str(i), "failed_to_delete") for i in self.failed_to_delete_table_identifiers]
        )


class CatalogMigrator:
    def __init__(
        self,
        source_catalog: Catalog,
        target_catalog: Catalog,
        delete_entries_from_source_catalog: bool = False,
        enable_stacktrace: bool = False,
    ) -> None:
        # validation parity: @Value.Check (CatalogMigrator.java:59-79)
        if not target_catalog.supports_namespaces:
            raise ValueError(
                f"target catalog {target_catalog.name} doesn't implement SupportsNamespaces "
                "to create missing namespaces."
            )
        if not source_catalog.supports_namespaces:
            raise ValueError(
                f"source catalog {source_catalog.name} doesn't implement SupportsNamespaces "
                "to list all namespaces."
            )
        if delete_entries_from_source_catalog and not source_catalog.supports_entry_only_delete:
            raise ValueError(
                "Source catalog is a Hadoop catalog and it doesn't support deleting the table "
                "entries just from the catalog. Please configure "
                "`deleteEntriesFromSourceCatalog` as `false`"
            )
        self.source_catalog = source_catalog
        self.target_catalog = target_catalog
        self.delete_entries_from_source = delete_entries_from_source_catalog
        self.enable_stacktrace = enable_stacktrace
        self._result = CatalogMigrationResult()
        self._lock = Lock()
        self._processed_namespaces: set[Namespace] = set()
        self._namespace_latches: dict[Namespace, Lock] = {}

    # -- discovery (O2-O4) -------------------------------------------------
    def _all_namespaces(self) -> list[Namespace]:
        """Cycle-safe DFS over list_namespaces from the root
        (reference ``CatalogMigrator.java:198-206``)."""
        visited: set[Namespace] = set()
        order: list[Namespace] = []

        def walk(parent: Namespace) -> None:
            for ns in self.source_catalog.list_namespaces(parent):
                if ns in visited:
                    continue
                visited.add(ns)
                order.append(ns)
                walk(ns)

        walk(())
        return order

    def get_matching_table_identifiers(self, pattern: str | None = None) -> list[TableIdentifier]:
        """Namespace DFS → per-namespace listTables flatten → full-match
        regex filter. Tolerates empty/invalid-namespace listing errors
        (warn + skip, ``CatalogMigrator.java:118-129``)."""
        LOG.info("Collecting all the namespaces from source catalog...")
        namespaces = [*self._all_namespaces(), ()]  # include empty/root ns
        if pattern is None:
            LOG.info("Collecting all the tables from all the namespaces of source catalog...")
        else:
            LOG.info(
                "Collecting all the tables from all the namespaces of source catalog "
                "which matches the regex pattern:%s",
                pattern,
            )
        predicate = compile_full_match(pattern)
        out: list[TableIdentifier] = []
        for ns in namespaces:
            try:
                tables = self.source_catalog.list_tables(ns)
            except (CatalogError, ValueError) as ex:
                LOG.warning("Failed to identify tables from empty namespace : %s", ex)
                continue
            out.extend(t for t in tables if predicate(t))
        return list(dict.fromkeys(out))

    # -- namespace auto-create (O8) -----------------------------------------
    def _create_namespaces_if_missing(self, namespace: Namespace) -> None:
        """Prefix expansion: for a.b.c create a, a.b, a.b.c on the target;
        memoized; AlreadyExists swallowed (``CatalogMigrator.java:179-196``).
        Each prefix has a once-latch, so pool threads create it once: the
        first caller creates while the others wait, and a create that
        raises anything but a CatalogError leaves the prefix to the next."""
        for depth in range(1, len(namespace) + 1):
            prefix = namespace[:depth]
            with self._lock:
                latch = self._namespace_latches.setdefault(prefix, Lock())
            with latch:
                if prefix in self._processed_namespaces:
                    continue
                try:
                    self.target_catalog.create_namespace(prefix)
                except CatalogError as ex:
                    LOG.debug(
                        "%s. Ignoring the error as forcefully creating the namespace "
                        "even if it exists.",
                        ex,
                    )
                self._processed_namespaces.add(prefix)

    # -- register / migrate one table (O9-O11) ------------------------------
    def register_table(self, identifier: TableIdentifier) -> "CatalogMigrator":
        if identifier is None:
            raise ValueError("Identifier is null")
        registered = self._register(identifier)
        with self._lock:
            if registered:
                self._result.registered_table_identifiers.append(identifier)
            else:
                self._result.failed_to_register_table_identifiers.append(identifier)
                return self
        if registered and self.delete_entries_from_source:
            try:
                self.source_catalog.drop_table(identifier, purge=False)
            except Exception as ex:
                if self.enable_stacktrace:
                    LOG.exception("Failed to delete the table after migration %s", identifier)
                else:
                    LOG.error(
                        "Failed to delete the table after migration %s : %s", identifier, ex
                    )
                with self._lock:
                    self._result.failed_to_delete_table_identifiers.append(identifier)
        return self

    def _register(self, identifier: TableIdentifier) -> bool:
        try:
            self._create_namespaces_if_missing(identifier.namespace)
            location = self.source_catalog.load_table_metadata_location(identifier)
            self.target_catalog.register_table(identifier, location)
            LOG.info("Successfully registered the table %s", identifier)
            return True
        except Exception as ex:
            if self.enable_stacktrace:
                LOG.exception("Unable to register the table %s", identifier)
            else:
                LOG.error("Unable to register the table %s : %s", identifier, ex.args[0] if ex.args else ex)
            return False

    # -- bulk driver (O12) ----------------------------------------------------
    def register_tables(
        self,
        identifiers: list[TableIdentifier],
        parallelism: int = 1,
        progress_batch_size: int = 100,
        progress=None,
    ) -> "CatalogMigrator":
        """Bulk register with fail-soft accounting and progress every
        ``progress_batch_size`` (reference logs every 100,
        ``BaseRegisterCommand.java:85,161-168``). ``parallelism>1`` fans
        the per-table metadata RPCs over a thread pool."""
        total = len(identifiers)
        done = 0

        def report() -> None:
            if progress and (done % progress_batch_size == 0 or done == total):
                progress(done, total)

        if parallelism <= 1:
            for identifier in identifiers:
                self.register_table(identifier)
                done += 1
                report()
        else:
            with ThreadPoolExecutor(max_workers=parallelism) as pool:
                for _ in pool.map(self.register_table, identifiers):
                    done += 1
                    report()
        return self

    def result(self) -> CatalogMigrationResult:
        """Drain the accumulated result and reset (parity:
        ``CatalogMigrator.java:174-177`` clears the namespace memo)."""
        out = self._result
        self._result = CatalogMigrationResult()
        self._processed_namespaces.clear()
        return out
