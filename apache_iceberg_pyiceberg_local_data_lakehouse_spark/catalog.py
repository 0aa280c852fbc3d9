"""Warehouse catalog: namespaces + tables on a local/remote filesystem.

Reference surface (``/root/reference/lakehouse_pipeline.py``):
- ``load_catalog`` with a file warehouse (``:303-311``)  -> ``LakehouseCatalog(warehouse)``
- ``create_namespace`` idempotent (``:314-318``)         -> ``create_namespace``
- ``create_table`` with schema + partition spec,
  swallowing already-exists (``ensure_table``, ``:275-284``) -> ``ensure_table``
- ``load_table`` (``:385,402``)                          -> ``load_table``

The catalog is directory-backed (``<warehouse>/<namespace>/<table>``) -
the same layout a Hadoop-type Iceberg catalog uses, so a future swap to
the real Iceberg runtime is a config change, not a rewrite.
"""

from __future__ import annotations

import json
import re
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .table import LakehouseTable, PartitionField, Snapshot, atomic_write

# SQL DML statements handled by catalog.sql (Spark temp views are
# read-only, so DELETE/UPDATE compile to the table-format DML engines)
_DML_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# SET list and WHERE are split by a quote/paren-aware scanner
# (_split_on_top_level_where), NOT here: an assignment whose string
# literal or subexpression contains the word WHERE must not mis-parse.
_DML_UPDATE = re.compile(
    r"^\s*UPDATE\s+([\w.]+)\s+SET\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DML_TRUNCATE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
)
_DML_INSERT = re.compile(
    r"^\s*INSERT\s+(INTO|OVERWRITE)\s+([\w.]+)\s+(SELECT\b.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Delta's predicate-scoped atomic overwrite:
# INSERT INTO t REPLACE WHERE <pred> SELECT ...
# The predicate may not contain SELECT (a subquery predicate would
# otherwise split at the wrong token and mis-parse); the head pattern
# below turns that case into a clear refusal instead of a fall-through.
_DML_REPLACE_WHERE = re.compile(
    r"^\s*INSERT\s+INTO\s+([\w.]+)\s+REPLACE\s+WHERE\s+"
    r"((?:(?!\bSELECT\b).)+?)"
    r"\s+(SELECT\b.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DML_REPLACE_WHERE_HEAD = re.compile(
    r"^\s*INSERT\s+INTO\s+[\w.]+\s+REPLACE\s+WHERE\b", re.IGNORECASE
)
_DML_SHOW_TABLES = re.compile(
    r"^\s*SHOW\s+TABLES(?:\s+IN\s+(\w+))?\s*;?\s*$", re.IGNORECASE
)
_DML_SHOW_NAMESPACES = re.compile(
    r"^\s*SHOW\s+(?:NAMESPACES|DATABASES|SCHEMAS)\s*;?\s*$", re.IGNORECASE
)
_DML_SHOW_TBLPROPERTIES = re.compile(
    r"^\s*SHOW\s+TBLPROPERTIES\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
)
_DML_DESCRIBE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([\w.]+)\s*;?\s*$", re.IGNORECASE
)
# Delta's DESCRIBE DETAIL: one row of manifest-derived layout health
_DML_DESCRIBE_DETAIL = re.compile(
    r"^\s*DESC(?:RIBE)?\s+DETAIL\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
)
_DML_DESCRIBE_HISTORY = re.compile(
    r"^\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
)
_DML_SHOW_PARTITIONS = re.compile(
    r"^\s*SHOW\s+PARTITIONS\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
)
_DML_SHOW_REFS = re.compile(
    r"^\s*SHOW\s+REFS\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
)
_DML_SHOW_TRANSACTIONS = re.compile(
    r"^\s*SHOW\s+TRANSACTIONS\s*;?\s*$", re.IGNORECASE
)
_DML_ANALYZE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+([\w.]+)"
    r"(?:\s+FOR\s+COLUMNS\s*\(([^)]+)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_DML_SHOW_STATS = re.compile(
    r"^\s*SHOW\s+STATS\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
)
_DML_CREATE_MV = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+AS\s+"
    r"(SELECT\b.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DML_REFRESH_MV = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_DML_CREATE_VIEW = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+"
    r"(SELECT\b.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DML_DROP_VIEW = re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_DML_CTAS = re.compile(
    r"^\s*CREATE\s+TABLE\s+([\w.]+)"
    r"(?:\s+PARTITIONED\s+BY\s*\(((?:[^()]|\([^)]*\))+)\))?"
    r"\s+AS\s+(SELECT\b.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DML_DROP = re.compile(
    r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
# SQL time travel (Iceberg/Delta-style): <table> [FOR] VERSION AS OF n
# or [FOR] TIMESTAMP AS OF '<ts>'. Rewritten to a pinned temp view
# before the statement runs, so it composes with any SELECT shape
# (joins of two versions, CTAS from an old version, ...).
_TIME_TRAVEL = re.compile(
    r"([\w.]+)\s+(?:FOR\s+)?(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"('[^']*'|\d+)",
    re.IGNORECASE,
)
_DML_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<ident>[\w.]+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+ZORDER\s+BY\s*\((?P<zorder>[^)]+)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Delta's RESTORE TABLE t [TO] VERSION|TIMESTAMP AS OF - routes to
# restore_to (a NEW commit replicating the target state; history stays)
_DML_RESTORE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(?P<ident>[\w.]+)\s+(?:TO\s+)?"
    r"(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(?P<target>\d+|'[^']+')\s*;?\s*$",
    re.IGNORECASE,
)

# Delta's COPY INTO: idempotent bulk file loading - files already
# loaded (tracked per table) are skipped on re-run.
_DML_COPY_INTO = re.compile(
    r"^\s*COPY\s+INTO\s+(?P<ident>[\w.]+)\s+FROM\s+'(?P<src>[^']+)'"
    r"(?:\s+FILEFORMAT\s*=\s*(?P<fmt>\w+))?\s*;?\s*$",
    re.IGNORECASE,
)

_DML_SHOW_CREATE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<ident>[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)

# Iceberg's metadata tables: <ns>.<table>.<meta> where meta selects an
# inspect frame (snapshots/files/partitions/refs/history/manifests).
# Dotted idents are ns.table, so EXACTLY three parts with a known
# suffix disambiguates.
_METADATA_TABLE = re.compile(
    r"\b(?P<ns>\w+)\.(?P<tbl>\w+)\."
    r"(?P<meta>snapshots|files|partitions|refs|history|manifests)\b",
    re.IGNORECASE,
)

# Delta's change-data-feed table function: table_changes('t', from
# [, to]) anywhere a table reference could appear; rewritten to a temp
# view over scan_changelog before the statement runs.
_TABLE_CHANGES = re.compile(
    r"table_changes\s*\(\s*'(?P<ident>[\w.]+)'\s*,\s*(?P<frm>\d+)"
    r"(?:\s*,\s*(?P<to>\d+))?\s*\)",
    re.IGNORECASE,
)

# Iceberg's stored-procedure surface: CALL system.<proc>(arg, ...).
# Args are positional literals ('str' or int); each proc routes to the
# corresponding Python API (maintenance / refs / branch publish).
# The args group is greedy .* with the closing paren anchored at
# end-of-statement, so a quoted argument containing ')' (e.g.
# create_tag('t', 'v(1)')) still routes here; the quote-aware
# _split_top_level parses the list.
_DML_CALL = re.compile(
    r"^\s*CALL\s+system\.(?P<proc>\w+)\s*\((?P<args>.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# catalog-level multi-table transactions as SQL verbs (r13, VERDICT r12
# #4, matching the retention CALL precedent): BEGIN [TRANSACTION] opens
# one, INSERT INTO ... SELECT statements stage into it, COMMIT makes
# them durable all-or-nothing, ROLLBACK aborts. Recovery is
# CALL system.recover_transactions([grace_ms]).
_DML_BEGIN = re.compile(
    r"^\s*BEGIN(\s+TRANSACTION)?\s*;?\s*$", re.IGNORECASE
)
_DML_COMMIT = re.compile(
    r"^\s*COMMIT(\s+TRANSACTION)?\s*;?\s*$", re.IGNORECASE
)
_DML_ROLLBACK = re.compile(
    r"^\s*ROLLBACK(\s+TRANSACTION)?\s*;?\s*$", re.IGNORECASE
)

_DML_VACUUM = re.compile(
    r"^\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+)\s+HOURS)?"
    r"(\s+DRY\s+RUN)?\s*;?\s*$",
    re.IGNORECASE,
)
# MERGE INTO target USING source ON <equi-keys> WHEN ... - compiled to
# dml.merge_into (row-replace semantics: UPDATE SET * / INSERT *).
_DML_MERGE_HEAD = re.compile(
    r"^\s*MERGE\s+(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION\s+)?"
    r"INTO\s+(?P<target>[\w.]+)"
    r"(?:\s+(?:AS\s+)?(?!USING\b)(?P<talias>\w+))?"
    r"\s+USING\s+(?P<src>\((?:[^()]|\([^()]*\))*\)|[\w.]+)"
    r"(?:\s+(?:AS\s+)?(?!ON\b)(?P<salias>\w+))?"
    r"\s+ON\s+(?P<on>.+?)(?P<clauses>\s+WHEN\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DML_MERGE_CLAUSE = re.compile(
    # column-level SET assignments run to the next CLAUSE-starting
    # "WHEN [NOT] MATCHED" (not any WHEN - CASE WHEN must stay inside
    # the assignment expression)
    r"WHEN\s+(?P<kind>NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED|MATCHED)"
    r"(?:\s+AND\s+(?P<cond>.+?))?"
    r"\s+THEN\s+(?P<action>UPDATE\s+SET\s+\*"
    r"|UPDATE\s+SET\s+"
    r"(?P<sets>(?:(?!\bWHEN\s+(?:NOT\s+)?MATCHED\b).)+)"
    r"|INSERT\s+\*"
    # explicit column-list insert: INSERT (a, b) VALUES (e1, e2) -
    # the VALUES body runs to its closing paren before the next
    # clause (greedy within the tempered span, so nested function
    # parens stay inside)
    r"|INSERT\s*\((?P<icols>[^()]*)\)\s*VALUES\s*\("
    r"(?P<ivals>(?:(?!\bWHEN\s+(?:NOT\s+)?MATCHED\b).)+)\)"
    r"|DELETE)",
    re.IGNORECASE | re.DOTALL,
)

# CREATE TABLE dst [SHALLOW] CLONE src [[FOR] VERSION AS OF n] - must
# match BEFORE the time-travel rewrite (which would swallow the
# VERSION AS OF clause into a pinned temp view).
_DML_CLONE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<dst>[\w.]+)\s+(?P<shallow>SHALLOW\s+)?"
    r"CLONE\s+(?P<src>[\w.]+)"
    r"(?:\s+(?:FOR\s+)?VERSION\s+AS\s+OF\s+(?P<ver>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)

# ALTER TABLE schema-evolution verbs - all metadata-only commits
# routed to the dml engines (add/drop/rename/promote) or properties.
_DML_ALTER = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_ADD_COL = re.compile(
    r"^ADD\s+COLUMN\s+(\w+)\s+([\w()<>, ]+?)"
    r"(?:\s+DEFAULT\s+(.+?))?"
    r"(?:\s+GENERATED\s+ALWAYS\s+AS\s+"
    r"(?:(?P<identity>IDENTITY)"
    r"(?:\s*\(\s*(?:START\s+WITH\s+(?P<idstart>-?\d+))?"
    r"\s*(?:INCREMENT\s+BY\s+(?P<idstep>-?\d+))?\s*\))?"
    r"|\((?P<gen>.+)\)))?$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_COL = re.compile(r"^DROP\s+COLUMN\s+(\w+)$", re.IGNORECASE)
_ALTER_RENAME_COL = re.compile(
    r"^RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)$", re.IGNORECASE
)
_ALTER_COL_TYPE = re.compile(
    r"^ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+([\w()<>, ]+)$", re.IGNORECASE
)
_ALTER_SET_PROPS = re.compile(
    r"^SET\s+TBLPROPERTIES\s*\((.+)\)$", re.IGNORECASE | re.DOTALL
)
_ALTER_CREATE_REF = re.compile(
    r"^CREATE\s+(TAG|BRANCH)\s+(\w+)"
    r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?$",
    re.IGNORECASE,
)
_ALTER_DROP_REF = re.compile(
    r"^DROP\s+(TAG|BRANCH)\s+(\w+)$", re.IGNORECASE
)
# Iceberg's partition-spec evolution DDL: ALTER TABLE t ADD PARTITION
# FIELD days(ts) | DROP PARTITION FIELD ts_day. Metadata-only commits;
# existing files keep their layout (pruning is per-file), future
# appends write under the evolved spec.
_ALTER_PARTITION_FIELD = re.compile(
    r"^(ADD|DROP)\s+PARTITION\s+FIELD\s+(.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Delta's liquid-clustering declaration: ALTER TABLE t CLUSTER BY
# (c1, c2) | NONE. Maps to the table's write.zorder-by property - the
# layout every subsequent compaction (OPTIMIZE, auto-maintain) applies.
_ALTER_CLUSTER_BY = re.compile(
    r"^CLUSTER\s+BY\s*(?:\(([^)]+)\)|(NONE))\s*$", re.IGNORECASE
)
# SQL type aliases -> the schema-json canonical names the table format
# stores (StructType.fromJson rejects the SQL spellings)
_SQL_TYPE_ALIAS = {
    "int": "integer",
    "bigint": "long",
    "tinyint": "byte",
    "smallint": "short",
}

# Aggregate-pushdown fast path: a whole-table COUNT(*)/MIN/MAX SELECT
# with no WHERE / GROUP BY / JOIN answers from the manifest via
# LakehouseTable.metadata_agg (zero data files read); any shape or
# metadata refusal falls through to the normal view scan.
_META_AGG_SELECT = re.compile(
    r"^\s*SELECT\s+(?P<items>[^;]+?)\s+FROM\s+"
    r"(?P<ref>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*;?\s*$",
    re.IGNORECASE,
)
_META_AGG_ITEM = re.compile(
    r"^\s*(?P<op>COUNT|MIN|MAX)\s*\(\s*(?P<arg>\*|[A-Za-z_]\w*)\s*\)"
    r"(?:\s+AS\s+(?P<alias>[A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)


def _parse_partition_field(spec: str) -> PartitionField:
    """Parse one PARTITIONED BY element: ``col`` (identity),
    ``days(col)`` / ``hours(col)`` / ``months(col)`` / ``years(col)``,
    ``bucket(N, col)``, ``truncate(W, col)``."""
    spec = spec.strip()
    m = re.fullmatch(r"(\w+)\s*\(([^)]*)\)", spec)
    if not m:
        return PartitionField(spec)
    fn, args = m.group(1).lower(), [a.strip() for a in m.group(2).split(",")]
    if fn in ("years", "months", "days", "hours"):
        return PartitionField(args[0], fn)
    if fn == "bucket":
        return PartitionField(args[1], "bucket", n_buckets=int(args[0]))
    if fn == "truncate":
        return PartitionField(args[1], "truncate", width=int(args[0]))
    raise ValueError(f"unknown partition transform: {fn}")


def _split_top_level(s: str) -> list[str]:
    """Split a SET list on commas outside parentheses and quotes, so
    assignments like ``v = greatest(v, 0), tag = \'a,b\'`` parse."""
    parts, depth, quote, esc, cur = [], 0, None, False, []
    for ch in s:
        if quote:
            cur.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
            continue
        if ch in ("\'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def _quoted_spans(s: str) -> list[tuple[int, int]]:
    """[start, end] index ranges of quoted spans ('...' literals and
    "..." idents), honoring backslash escapes and SQL's doubled-quote
    escape (''). Used to keep textual statement rewrites (metadata
    tables, table_changes, time travel, HAVING alias substitution) out
    of string literals.

    Scanner family note: _split_top_level and _split_on_top_level_where
    track quotes with a flip-flop (each quote char toggles state, no ''
    special-case). For their purpose - protecting commas / WHERE inside
    literals - the flip-flop COINCIDES with '' semantics (close+reopen
    keeps interior chars protected), so they need no doubled-quote
    branch; this scanner needs it because it reports exact span
    boundaries. Keep the escape rules in sync if the dialect grows."""
    spans: list[tuple[int, int]] = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if s[j] == "\\":
                    j += 2
                    continue
                if s[j] == ch:
                    if j + 1 < n and s[j + 1] == ch:  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            spans.append((i, min(j, n - 1)))
            i = j + 1
        else:
            i += 1
    return spans


def _sub_outside_quotes(pattern: re.Pattern, repl, s: str) -> str:
    """``pattern.sub(repl, s)`` skipping matches that START inside a
    quoted span - so ``WHERE note = 'ns.tbl.files'`` keeps its literal
    while a real ``ns.tbl.files`` table reference is rewritten. (A
    match beginning outside quotes may legitimately CONTAIN quotes,
    e.g. ``table_changes('t', 1)``.)"""
    spans = _quoted_spans(s)

    def _in_quote(pos: int) -> bool:
        return any(a <= pos <= b for a, b in spans)

    out: list[str] = []
    last = 0
    for m in pattern.finditer(s):
        if _in_quote(m.start()):
            continue
        out.append(s[last : m.start()])
        out.append(repl(m) if callable(repl) else m.expand(repl))
        last = m.end()
    out.append(s[last:])
    return "".join(out)


def _split_on_top_level_where(s: str) -> tuple[str, str | None]:
    """Split ``s`` at the first WHERE keyword that sits outside quotes,
    backticks, and parentheses. Returns (before, after) with the keyword
    removed; ``after`` is None when no top-level WHERE exists (standard
    SQL: the statement applies to every row)."""
    depth, quote, esc = 0, None, False
    n = len(s)
    for i, ch in enumerate(s):
        if quote:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
            continue
        if ch in ("'", '"', "`"):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and s[i : i + 5].upper() == "WHERE"
            and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
            and (i + 5 >= n or not (s[i + 5].isalnum() or s[i + 5] == "_"))
        ):
            return s[:i], s[i + 5 :]
    return s, None



class NoSuchTableError(Exception):
    pass


class LakehouseCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        import threading

        self.spark = spark
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)
        # the SQL surface's open BEGIN..COMMIT transaction, if any.
        # ONE SQL SESSION PER CATALOG HANDLE: the pointer is shared
        # mutable state, so two threads driving BEGIN/INSERT/COMMIT
        # through the same handle would interleave into one another's
        # transaction (ADVICE r13). The lock makes the BEGIN
        # check-and-set and the COMMIT/ROLLBACK take-and-clear atomic -
        # a second thread's BEGIN now fails loudly ('already open')
        # instead of silently adopting or clobbering the first
        # thread's transaction. Threads that each need their own SQL
        # transaction should each build their own LakehouseCatalog
        # (cheap: it holds no connection, just the warehouse path).
        self._active_txn = None
        self._txn_verb_lock = threading.Lock()

    # -- namespaces ---------------------------------------------------------

    def create_namespace(self, namespace: str) -> None:
        """Idempotent (reference swallows NamespaceAlreadyExistsError).
        Underscore-prefixed names are RESERVED for catalog bookkeeping
        (``_transactions``): list_namespaces hides them, so a user
        namespace named ``_staging`` would become half-visible - loadable
        but absent from SHOW NAMESPACES, register_views, and MV
        candidate resolution (advice r13)."""
        self._check_namespace_name(namespace)
        os.makedirs(os.path.join(self.warehouse, namespace), exist_ok=True)

    @staticmethod
    def _check_namespace_name(namespace: str) -> None:
        for seg in namespace.split("."):
            if seg.startswith("_"):
                raise ValueError(
                    f"namespace {namespace!r} is reserved: "
                    "underscore-prefixed names are catalog bookkeeping "
                    "(hidden from SHOW NAMESPACES and view/MV "
                    "resolution)"
                )

    def list_namespaces(self) -> list[str]:
        # underscore-prefixed dirs are catalog bookkeeping, not user
        # namespaces (e.g. _transactions - review r12: it leaked into
        # SHOW NAMESPACES after the first transaction)
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
            and not d.startswith("_")
        )

    # -- tables -------------------------------------------------------------

    def _table_location(self, identifier: str) -> str:
        namespace, _, name = identifier.rpartition(".")
        if not namespace:
            raise ValueError(f"identifier must be namespace.table: {identifier}")
        return os.path.join(self.warehouse, namespace, name)

    @staticmethod
    def _has_metadata(location: str) -> bool:
        """A table exists iff ANY snapshot version file remains. Anchoring
        on ``v0.json`` specifically is a data-loss hazard: snapshot expiry
        may legitimately remove version 0 once it ages past the retention
        floor, and a v0-anchored existence check would then make
        ``ensure_table`` re-create an empty table over live data."""
        meta = os.path.join(location, "metadata")
        if not os.path.isdir(meta):
            return False
        return any(
            n.startswith("v") and n.endswith(".json") for n in os.listdir(meta)
        )

    def table_exists(self, identifier: str) -> bool:
        return self._has_metadata(self._table_location(identifier))

    def create_table(
        self,
        identifier: str,
        schema: StructType,
        partition_spec: list[PartitionField] | None = None,
    ) -> LakehouseTable:
        namespace, _, name = identifier.rpartition(".")
        if namespace:
            self._check_namespace_name(namespace)
        if namespace and name in self._load_stored_views(namespace):
            raise ValueError(
                f"a stored view already holds the name {identifier}; "
                "drop the view first (stored views register over table "
                "views, so the table's data would be unreachable via SQL)"
            )
        loc = self._table_location(identifier)
        os.makedirs(os.path.join(loc, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(loc, "data"), exist_ok=True)
        table = LakehouseTable(self.spark, loc)
        snap = Snapshot(
            snapshot_id=uuid.uuid4().hex,
            version=0,
            timestamp_ms=int(time.time() * 1000),
            operation="create",
            parent_id=None,
            schema_json=json.loads(schema.json()),
            partition_spec=partition_spec or [],
            manifest=[],
            summary={},
        )
        table._commit(snap)
        return table

    def ensure_table(
        self,
        identifier: str,
        schema: StructType,
        partition_spec: list[PartitionField] | None = None,
    ) -> LakehouseTable:
        """Create-if-absent (reference ``ensure_table``,
        ``lakehouse_pipeline.py:275-284``)."""
        if self.table_exists(identifier):
            return self.load_table(identifier)
        try:
            return self.create_table(identifier, schema, partition_spec)
        except Exception:
            if self.table_exists(identifier):
                return self.load_table(identifier)
            raise

    def load_table(self, identifier: str) -> LakehouseTable:
        loc = self._table_location(identifier)
        if not self._has_metadata(loc):
            raise NoSuchTableError(identifier)
        return LakehouseTable(self.spark, loc)

    def list_tables(self, namespace: str) -> list[str]:
        ns_dir = os.path.join(self.warehouse, namespace)
        if not os.path.isdir(ns_dir):
            return []
        return sorted(
            f"{namespace}.{d}"
            for d in os.listdir(ns_dir)
            if self._has_metadata(os.path.join(ns_dir, d))
        )

    def drop_table(self, identifier: str) -> None:
        import shutil

        loc = self._table_location(identifier)
        if not os.path.exists(loc):
            return
        # a shallow clone recorded its source pin (clone.source
        # property): release the tag with the clone, or the source
        # could never expire the pinned snapshot and a re-clone to the
        # same name would collide on the tag
        try:
            t = LakehouseTable(self.spark, loc)
            # comma-joined: the direct source plus any external roots a
            # chained clone pinned (all carry this clone's tag name)
            for src_ident in (
                t.properties().get("clone.source") or ""
            ).split(","):
                src_ident = src_ident.strip()
                if src_ident and self.table_exists(src_ident):
                    try:
                        self.load_table(src_ident).drop_tag(
                            f"clone-{self.view_name(identifier)}"
                        )
                    except (KeyError, ValueError):
                        pass  # pin already released (pin_source=False)
        except Exception:
            pass  # a corrupt clone must still be droppable
        shutil.rmtree(loc)

    # -- SQL surface --------------------------------------------------------

    @staticmethod
    def view_name(identifier: str) -> str:
        """Spark temp-view names cannot contain dots: ``gold.eurusd`` is
        exposed as ``gold_eurusd``."""
        return identifier.replace(".", "_")

    def create_view(
        self,
        identifier: str,
        view_name: str | None = None,
        version: int | None = None,
    ) -> str:
        """Register one table's snapshot scan as a Spark temp view so it
        is queryable with plain ``spark.sql`` (projections/filters still
        push into the pruned parquet scan through the view).

        The view pins the snapshot CURRENT AT REGISTRATION (``version``
        selects an older one for SQL time travel). Commits made after
        registration are invisible until ``create_view`` runs again —
        the same contract as Iceberg's REFRESH TABLE.

        A time-travel view (``version=...``) must carry its OWN
        ``view_name``: under the default name it would be silently
        re-pointed at the head by the next ``register_views``/``sql``
        refresh — a pin that quietly unpins is a data-correctness trap.
        """
        if version is not None and view_name is None:
            raise ValueError(
                "a version-pinned view needs an explicit view_name (the "
                f"default name {self.view_name(identifier)!r} is refreshed "
                "to the current snapshot by register_views/sql)"
            )
        t = self.load_table(identifier)
        snap = t.snapshot(version) if version is not None else None
        name = view_name or self.view_name(identifier)
        df = t.scan(snapshot=snap)
        props = t.properties()
        if "mv.query" in props or "mv.store_query" in props:
            # engine-managed partial-aggregate columns (AVG-tier MV
            # maintenance) are physical state, not query results: the
            # SQL surface serves the view the user's query defined.
            # Gated on the MV properties - a USER table legitimately
            # containing a '__mv_'-prefixed column keeps it (ADVICE r7)
            having = props.get("mv.having")
            view_agg = props.get("mv.view_agg")
            if view_agg:
                # COUNT(DISTINCT) tier: the table stores the finer
                # (keys, value) grain; re-aggregate to the user grain
                # (COUNT of distinct-value rows, SUM/MIN/MAX of the
                # __mv_p_* partials) - HAVING, when present, filters
                # the re-aggregated result like any other MV
                spec = json.loads(view_agg)
                df = df.groupBy(*spec["keys"]).agg(
                    *[F.expr(e) for e in spec["exprs"]]
                )
                df = df.select(*spec["order"])
                if having:
                    df = df.filter(F.expr(having))
            else:
                if having:
                    # HAVING tier: the table stores the UNFILTERED
                    # aggregate so partial merges stay correct; the
                    # user's predicate applies here, in the view the
                    # query defined
                    df = df.filter(F.expr(having))
                hidden = [
                    c for c in df.columns if c.startswith("__mv_")
                ]
                if hidden:
                    df = df.drop(*hidden)
        df.createOrReplaceTempView(name)
        return name

    def register_views(self, namespace: str | None = None) -> list[str]:
        """Expose every table (optionally one namespace) as temp views.
        Returns the view names. The SQL entry point for users who drive
        the lakehouse from ``spark.sql`` instead of the Python API.
        Raises if two tables map to one view name (dots→underscores is
        not injective: ``gold.a_b`` vs ``gold_a.b``) — a silent overwrite
        would serve the wrong table's data."""
        spaces = [namespace] if namespace else self.list_namespaces()
        seen: dict[str, str] = {}
        out = []
        for ns in spaces:
            for ident in self.list_tables(ns):
                name = self.view_name(ident)
                if name in seen:
                    raise ValueError(
                        f"view name collision: {ident!r} and {seen[name]!r} "
                        f"both map to {name!r}; register one with "
                        "create_view(..., view_name=...) instead"
                    )
                seen[name] = ident
                out.append(self.create_view(ident))
        return out

    # -- stored views (persisted SQL definitions, Iceberg view spec) --------

    def _views_path(self, namespace: str) -> str:
        return os.path.join(self.warehouse, namespace, "_views.json")

    def _load_stored_views(self, namespace: str) -> dict:
        try:
            with open(self._views_path(namespace)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def create_stored_view(
        self, identifier: str, sql_text: str, replace: bool = False
    ) -> None:
        """Persist a named SQL view definition in the catalog (the
        Iceberg view spec's role): the TEXT is stored, not data, and
        every ``sql()`` call re-registers it over the current table
        snapshots - a stored view always reflects the live tables."""
        namespace, _, name = identifier.rpartition(".")
        if not namespace:
            raise ValueError(f"identifier must be namespace.view: {identifier}")
        views = self._load_stored_views(namespace)
        if name in views and not replace:
            raise ValueError(f"view already exists: {identifier}")
        if self.table_exists(identifier):
            raise ValueError(f"a table already holds the name {identifier}")
        views[name] = sql_text
        os.makedirs(os.path.join(self.warehouse, namespace), exist_ok=True)
        atomic_write(self._views_path(namespace), json.dumps(views))

    def drop_stored_view(self, identifier: str, if_exists: bool = False) -> bool:
        namespace, _, name = identifier.rpartition(".")
        views = self._load_stored_views(namespace)
        if name not in views:
            if if_exists:
                return False
            raise ValueError(f"no such view: {identifier}")
        del views[name]
        atomic_write(self._views_path(namespace), json.dumps(views))
        self.spark.catalog.dropTempView(self.view_name(identifier))
        return True

    def create_masked_view(
        self,
        table_identifier: str,
        view_identifier: str,
        column_masks: dict[str, str] | None = None,
        row_filter: str | None = None,
        drop_columns: list[str] | None = None,
        replace: bool = False,
    ) -> str:
        """Governance view (the column-mask / row-filter pattern of
        Iceberg view-based access control): a STORED view over one
        table where masked columns are replaced by an expression (cast
        back to the column's type, so consumers see the same schema),
        dropped columns disappear entirely, and ``row_filter`` gates
        which rows exist at all. The definition is TEXT in the catalog -
        it always reflects the live table and costs nothing to create;
        masking expressions run inside the consumer's scan, so filters
        and pruning still push down past the view.

        Returns the generated SQL (also persisted via
        ``create_stored_view``). Masks may reference the underlying
        column (``md5(email)``) or any SQL over the table's columns."""
        t = self.load_table(table_identifier)
        masks = dict(column_masks or {})
        dropped = set(drop_columns or [])
        names = {f.name for f in t.schema.fields}
        for bad in (set(masks) | dropped) - names:
            raise ValueError(
                f"create_masked_view: no column {bad!r} in "
                f"{table_identifier}"
            )
        cols = []
        for f in t.schema.fields:
            if f.name in dropped:
                continue
            if f.name in masks:
                cols.append(
                    f"CAST(({masks[f.name]}) AS "
                    f"{f.dataType.simpleString()}) AS {f.name}"
                )
            else:
                cols.append(f.name)
        if not cols:
            raise ValueError("create_masked_view: every column dropped")
        sql_text = (
            f"SELECT {', '.join(cols)} FROM "
            f"{self.view_name(table_identifier)}"
        )
        if row_filter:
            sql_text += f" WHERE {row_filter}"
        # validate eagerly over the current snapshot - loud errors at
        # definition time, not at first consumer query
        self.register_views()
        self.spark.sql(sql_text)
        self.create_stored_view(view_identifier, sql_text, replace=replace)
        return sql_text

    def _register_stored_views(self) -> None:
        """Register stored views AFTER table views so they can reference
        them. Two full passes re-register every view (a view may first
        bind against a stale same-named temp view from the session, or
        fail on a not-yet-registered sibling; the second pass freshens
        one dependency level), then failure-only retries run until the
        failure set stops shrinking. A view that never resolves (e.g.
        its base table was dropped) is SKIPPED, not raised: one broken
        definition must not brick unrelated SQL statements - the error
        surfaces only when a query actually references the view."""
        defs = []
        for ns in self.list_namespaces():
            for name, text in self._load_stored_views(ns).items():
                defs.append((f"{ns}.{name}", text))

        def register(batch):
            failed = []
            for ident, text in batch:
                try:
                    self.spark.sql(text).createOrReplaceTempView(
                        self.view_name(ident)
                    )
                except Exception:
                    failed.append((ident, text))
            return failed

        register(defs)
        pending = register(defs)  # second full pass: re-bind successes too
        while pending:
            nxt = register(pending)
            if len(nxt) >= len(pending):
                break  # no progress: remaining views are genuinely broken
            pending = nxt

    # -- materialized views (maintenance lives in mv.py) --------------------

    def create_materialized_view(self, identifier: str, sql_text: str):
        """A table whose contents are a stored query's result: created
        by running the query once, refreshed on demand by
        :meth:`refresh_materialized_view`. Readers see either the old or
        the new result, never a mix; time travel keeps prior refreshes
        until expiry. See :func:`mv.create_materialized_view`."""
        from . import mv

        return mv.create_materialized_view(self, identifier, sql_text)

    def refresh_materialized_view(self, identifier: str):
        """Bring the MV up to date with its stored query: incrementally
        when the moved inputs allow it, else one atomic full refresh.
        Returns the commit snapshot, or None when already up to date.
        See :func:`mv.refresh_materialized_view`."""
        from . import mv

        return mv.refresh_materialized_view(self, identifier)

    def mv_refresh_estimate(self, identifier: str) -> dict:
        """What refreshing the join-aggregate MV would cost, priced
        from manifest stats alone. See :func:`mv.mv_refresh_estimate`."""
        from . import mv

        return mv.mv_refresh_estimate(self, identifier)

    def _sql_merge(self, m: re.Match, txn=None) -> DataFrame:
        """Compile ``MERGE INTO t USING s ON t.k = s.k WHEN ...`` to
        :func:`dml.merge_into`. With ``txn`` (r14) the compiled merge
        STAGES into the open transaction instead of committing - same
        contract as the routed UPDATE/DELETE; WITH SCHEMA EVOLUTION is
        refused there (its metadata commits precede the merge).
        Supported matrix (row-replace form, the
        one the engine's MERGE implements):

        - ``WHEN MATCHED [AND <cond over target cols>] THEN
          UPDATE SET * | DELETE`` (absent -> matched rows keep the
          table version, merge_into's 'ignore');
        - ``WHEN NOT MATCHED THEN INSERT *`` (absent -> source-only
          keys are dropped);
        - ``WHEN NOT MATCHED BY SOURCE [AND <cond over target cols>]
          THEN DELETE | UPDATE SET col = <expr over target cols>, ...``
          (full sync / mark-stale-rows; r11 adds the UPDATE arm and
          MULTIPLE by-source clauses, first-match-wins per unmatched
          target row - only the last may omit the condition).

        ON must be a conjunction of equality predicates naming the
        SAME column on both sides (``t.k = s.k [AND t.k2 = s.k2]``) -
        that is merge_into's key model; the source may be a registered
        view, a lakehouse table, or a parenthesized subquery."""
        from .dml import merge_into

        target = m.group("target")
        if txn is not None and m.group("evolve"):
            raise ValueError(
                "MERGE WITH SCHEMA EVOLUTION cannot run inside the "
                f"open transaction {txn.txn_id}: evolution commits "
                "schema metadata before the merge and cannot stage "
                "invisibly; COMMIT or ROLLBACK first"
            )
        t = self.load_table(target)
        src_txt = m.group("src")
        self.register_views()
        self._register_stored_views()
        if src_txt.startswith("("):
            src_df = self.spark.sql(src_txt[1:-1])
        else:
            try:
                src_df = self.load_table(
                    self._resolve_table_reference(src_txt)
                ).to_df()
            except NoSuchTableError:
                src_df = self.spark.table(src_txt)

        keys = []
        for part in re.split(r"\bAND\b", m.group("on"), flags=re.IGNORECASE):
            em = re.fullmatch(r"\s*([\w.]+)\s*=\s*([\w.]+)\s*", part)
            if em is None:
                raise ValueError(
                    "MERGE ON must be a conjunction of column equalities "
                    f"(t.k = s.k), got: {part.strip()!r}"
                )
            lcol = em.group(1).rsplit(".", 1)[-1]
            rcol = em.group(2).rsplit(".", 1)[-1]
            if lcol != rcol:
                raise ValueError(
                    "MERGE ON requires the same column name on both "
                    f"sides, got {em.group(1)} = {em.group(2)}"
                )
            keys.append(lcol)

        when_matched = "ignore"
        matched_condition = None
        when_not_matched = "ignore"
        not_matched_condition = None
        bs_clause_list: list[tuple[str | None, str, list | None]] = []
        column_sets: list[tuple[str, str]] | None = None
        matched_clauses: list[tuple[str | None, str, list | None]] = []
        not_matched_clauses: list[tuple[str | None, list | None]] = []
        clauses = m.group("clauses")
        seen_spans = []
        for cm in _DML_MERGE_CLAUSE.finditer(clauses):
            seen_spans.append(cm.span())
            kind = re.sub(r"\s+", " ", cm.group("kind").upper())
            action = re.sub(r"\s+", " ", cm.group("action").upper())
            cond = cm.group("cond")
            if kind == "MATCHED":
                stripped = (
                    self._strip_alias(cond, m.group("talias"), target)
                    if cond is not None
                    else None
                )
                if action == "DELETE":
                    matched_clauses.append((stripped, "delete", None))
                elif action == "UPDATE SET *":
                    matched_clauses.append(
                        (stripped, "update_star", None)
                    )
                elif cm.group("sets") is not None:
                    # column-level SET (r10): explicit assignments
                    # instead of row-replace
                    matched_clauses.append(
                        (
                            stripped,
                            "update_sets",
                            self._parse_merge_sets(
                                cm.group("sets"),
                                (m.group("talias"), target,
                                 target.rsplit(".", 1)[-1]),
                                (m.group("salias"),
                                 None
                                 if src_txt.startswith("(")
                                 else src_txt,
                                 None
                                 if src_txt.startswith("(")
                                 else src_txt.rsplit(".", 1)[-1]),
                            ),
                        )
                    )
                else:
                    raise ValueError(f"WHEN MATCHED cannot {action}")
            elif kind == "NOT MATCHED":
                ilist = None
                if cm.group("icols") is not None:
                    # explicit column-list insert (r11): INSERT (a, b)
                    # VALUES (e1, e2) - exprs range over SOURCE columns
                    ilist = self._parse_insert_list(
                        cm.group("icols"),
                        cm.group("ivals"),
                        m.group("salias"),
                        "" if src_txt.startswith("(") else src_txt,
                    )
                elif action != "INSERT *":
                    raise ValueError(f"WHEN NOT MATCHED cannot {action}")
                # condition over SOURCE columns (r10): unmatched
                # source rows failing it fall to the next clause (r11:
                # several clauses compose first-match-wins)
                not_matched_clauses.append(
                    (
                        self._strip_alias(
                            cond,
                            m.group("salias"),
                            "" if src_txt.startswith("(") else src_txt,
                        )
                        if cond is not None
                        else None,
                        ilist,
                    )
                )
            else:  # NOT MATCHED BY SOURCE
                # conditions and UPDATE expressions range over TARGET
                # columns only (there is no source row on this side);
                # several clauses compose first-match-wins (r11)
                bcond = (
                    self._strip_alias(cond, m.group("talias"), target)
                    if cond is not None
                    else None
                )
                if action == "DELETE":
                    bs_clause_list.append((bcond, "delete", None))
                elif cm.group("sets") is not None:
                    bs_clause_list.append(
                        (
                            bcond,
                            "update",
                            self._parse_by_source_sets(
                                cm.group("sets"),
                                (
                                    m.group("talias"),
                                    target,
                                    target.rsplit(".", 1)[-1],
                                ),
                                (
                                    m.group("salias"),
                                    None
                                    if src_txt.startswith("(")
                                    else src_txt,
                                    None
                                    if src_txt.startswith("(")
                                    else src_txt.rsplit(".", 1)[-1],
                                ),
                            ),
                        )
                    )
                else:
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE supports DELETE "
                        "or UPDATE SET <assignments> (UPDATE SET * "
                        "has no source row to replace from)"
                    )
        leftover = _DML_MERGE_CLAUSE.sub("", clauses).strip()
        if leftover or not seen_spans:
            raise ValueError(
                f"unparsed MERGE clause text: {leftover!r}"
            )
        if not_matched_clauses:
            when_not_matched = "insert"
            if len(not_matched_clauses) == 1:
                not_matched_condition = not_matched_clauses[0][0]
        needs_compiler = (
            len(matched_clauses) > 1
            or len(not_matched_clauses) > 1
            or any(il is not None for _c, il in not_matched_clauses)
        )
        if needs_compiler:
            # the Delta multi-clause matrix (first-match-wins per row
            # on BOTH sides, r10/r11), and every column-list INSERT -
            # the computed-row compiler owns the insert projection, so
            # a single or even zero WHEN MATCHED clauses route here
            # too when the insert side needs it
            def run_mc(stage_as=None):
                return self._merge_multi_clauses(
                    t,
                    src_df,
                    keys,
                    matched_clauses,
                    not_matched_clauses,
                    "delete" if bs_clause_list else "keep",
                    evolve=bool(m.group("evolve")),
                    stage_as=stage_as,
                )

            if txn is not None:
                sid = txn._stage_replace_stmt(
                    target, lambda _t, s2: run_mc(stage_as=s2)
                )
                return self.spark.createDataFrame(
                    [("merge staged", target, txn.txn_id, sid)],
                    "operation string, table string, txn_id string, "
                    "staged_id string",
                )
            snap = run_mc()
            return self.spark.createDataFrame(
                [("merge", target, snap.version)],
                "operation string, table string, version long",
            )
        if matched_clauses:
            cond0, action0, sets0 = matched_clauses[0]
            matched_condition = cond0
            if action0 == "delete":
                when_matched = "delete"
            else:
                when_matched = "update"
                if action0 == "update_sets":
                    column_sets = sets0
        def run_plain(stage_as=None):
            if column_sets is not None:
                return self._merge_column_sets(
                    t,
                    src_df,
                    keys,
                    column_sets,
                    matched_condition,
                    when_not_matched,
                    not_matched_condition,
                    "keep",
                    evolve=bool(m.group("evolve")),
                    by_source_clauses=bs_clause_list or None,
                    stage_as=stage_as,
                )
            return merge_into(
                t,
                src_df,
                key=keys,
                when_matched=when_matched,
                matched_condition=matched_condition,
                when_not_matched=when_not_matched,
                not_matched_condition=not_matched_condition,
                by_source_clauses=bs_clause_list or None,
                with_schema_evolution=bool(m.group("evolve")),
                stage_as=stage_as,
            )

        if txn is not None:
            sid = txn._stage_replace_stmt(
                target, lambda _t, s2: run_plain(stage_as=s2)
            )
            return self.spark.createDataFrame(
                [("merge staged", target, txn.txn_id, sid)],
                "operation string, table string, txn_id string, "
                "staged_id string",
            )
        snap = run_plain()
        return self.spark.createDataFrame(
            [("merge", target, snap.version)],
            "operation string, table string, version long",
        )

    def _sql_alter(self, ident: str, action: str) -> DataFrame:
        """ALTER TABLE <t> ADD COLUMN c type [DEFAULT lit] | DROP
        COLUMN c | RENAME COLUMN a TO b | ALTER COLUMN c TYPE t |
        SET TBLPROPERTIES (k=v, ...) - the SQL spellings of the
        schema-evolution engines (all metadata-only commits; type
        changes restricted to the safe widenings promote_column
        enforces)."""
        from .dml import (
            add_column,
            drop_column,
            promote_column,
            rename_column,
        )

        t = self.load_table(ident)
        action = action.strip()
        am = _ALTER_ADD_COL.match(action)
        if am:
            col_type = am.group(2).strip().lower()
            col_type = _SQL_TYPE_ALIAS.get(col_type, col_type)
            # the type must PARSE before anything commits - a clause
            # the regex failed to claim (a misspelled IDENTITY spec,
            # stray keywords) would otherwise be swallowed into the
            # type group and committed as a garbage type that bricks
            # every later schema decode
            try:
                self.spark.createDataFrame([], f"__probe {col_type}")
            except Exception as e:
                raise ValueError(
                    f"unparseable column type {col_type!r} in ADD "
                    f"COLUMN (check the clause syntax): {e}"
                ) from e
            default = am.group(3)
            if default is not None:
                # literal only: evaluate via a one-row projection so
                # 'DEFAULT 5' / "DEFAULT 'x'" / DEFAULT NULL all parse;
                # cast to the declared type (a bare 0.5 literal is
                # DECIMAL, which the v3 default encoding refuses)
                default = self.spark.range(1).select(
                    F.expr(default).cast(col_type).alias("d")
                ).first()["d"]
            if am.group("gen"):
                # Delta's GENERATED ALWAYS AS: declared while empty;
                # appends fill the column, every write enforces it.
                # EVERY gate - DEFAULT conflict, empty-table, and the
                # expression itself (analysis, self-reference,
                # generated-on-generated) - runs BEFORE the add-column
                # commit so a rejected declaration leaves no dangling
                # column.
                if default is not None:
                    raise ValueError(
                        "a column cannot be both DEFAULT and "
                        "GENERATED ALWAYS AS"
                    )
                if t.snapshot().data_entries:
                    raise ValueError(
                        f"generated column {am.group(1)!r} must be "
                        "declared while the table is empty"
                    )
                t.validate_generation_expr(
                    am.group(1), am.group("gen")
                )
            if am.group("identity"):
                # Delta's GENERATED ALWAYS AS IDENTITY [(START WITH s
                # [INCREMENT BY i])]; EVERY gate (DEFAULT conflict,
                # empty table, bigint, nonzero step) runs before the
                # add-column commit so rejection leaves no dangling
                # column
                if default is not None:
                    raise ValueError(
                        "a column cannot be both DEFAULT and IDENTITY"
                    )
                if t.snapshot().data_entries:
                    raise ValueError(
                        f"identity column {am.group(1)!r} must be "
                        "declared while the table is empty"
                    )
                if col_type != "long":
                    raise ValueError(
                        f"identity column {am.group(1)!r} must be "
                        f"BIGINT, is {col_type}"
                    )
                step = int(am.group("idstep") or 1)
                if step == 0:
                    raise ValueError("identity step cannot be 0")
                snap = add_column(t, am.group(1), col_type)
                t.set_identity_column(
                    am.group(1),
                    start=int(am.group("idstart") or 1),
                    step=step,
                )
                return self.spark.createDataFrame(
                    [("alter add identity column", ident, snap.version)],
                    "operation string, table string, version long",
                )
            snap = add_column(t, am.group(1), col_type, default=default)
            op = "alter add column"
            if am.group("gen"):
                # every gate already ran pre-commit (above); a direct
                # property write avoids set_generated_column's second
                # snapshot load + Catalyst analysis round-trip
                t.set_properties(
                    **{f"generated.{am.group(1)}": am.group("gen")}
                )
                op = "alter add generated column"
        elif (am := _ALTER_DROP_COL.match(action)) is not None:
            snap = drop_column(t, am.group(1))
            op = "alter drop column"
        elif (am := _ALTER_RENAME_COL.match(action)) is not None:
            snap = rename_column(t, am.group(1), am.group(2))
            op = "alter rename column"
        elif (am := _ALTER_COL_TYPE.match(action)) is not None:
            new_type = am.group(2).strip().lower()
            snap = promote_column(
                t, am.group(1), _SQL_TYPE_ALIAS.get(new_type, new_type)
            )
            op = "alter column type"
        elif (am := _ALTER_CREATE_REF.match(action)) is not None:
            # Iceberg's ALTER TABLE ... CREATE TAG/BRANCH [AS OF
            # VERSION n] - named refs pin (tag) or track (branch)
            # snapshots; tags also protect against expiry
            version = int(am.group(3)) if am.group(3) else None
            if am.group(1).upper() == "TAG":
                v = t.create_tag(am.group(2), version)
            else:
                v = t.create_branch(am.group(2), version)
            return self.spark.createDataFrame(
                [
                    (
                        f"create {am.group(1).lower()}",
                        ident,
                        am.group(2),
                        v,
                    )
                ],
                "operation string, table string, ref string, version long",
            )
        elif (am := _ALTER_DROP_REF.match(action)) is not None:
            if am.group(1).upper() == "TAG":
                t.drop_tag(am.group(2))
            else:
                t.drop_branch(am.group(2))
            return self.spark.createDataFrame(
                [(f"drop {am.group(1).lower()}", ident, am.group(2))],
                "operation string, table string, ref string",
            )
        elif (am := _ALTER_PARTITION_FIELD.match(action)) is not None:
            from .dml import set_partition_spec

            spec = list(t.partition_spec)
            target = am.group(2).strip()
            if am.group(1).upper() == "ADD":
                pf = _parse_partition_field(target)
                names = {f.name for f in t.schema.fields}
                if pf.source not in names:
                    raise ValueError(
                        f"partition field source {pf.source!r} is not "
                        f"a table column (have {sorted(names)})"
                    )
                if any(
                    p.field_name == pf.field_name for p in spec
                ):
                    raise ValueError(
                        f"partition field {pf.field_name!r} already "
                        "exists in the spec"
                    )
                spec.append(pf)
                op = "alter add partition field"
            else:
                matches = [
                    p for p in spec if p.field_name == target
                ]
                if not matches:
                    try:
                        pf = _parse_partition_field(target)
                    except ValueError:
                        pf = None
                    if pf is not None:
                        # full parameter match: bucket(4, id) must NOT
                        # silently drop a bucket(8, id) field
                        matches = [
                            p
                            for p in spec
                            if p.source == pf.source
                            and p.transform == pf.transform
                            and p.n_buckets == pf.n_buckets
                            and p.width == pf.width
                        ]
                if not matches:
                    raise ValueError(
                        f"no partition field matching {target!r} "
                        f"(spec has {[p.field_name for p in spec]})"
                    )
                spec = [p for p in spec if p not in matches]
                op = "alter drop partition field"
            snap = set_partition_spec(t, spec)
        elif (am := _ALTER_CLUSTER_BY.match(action)) is not None:
            if am.group(2):  # CLUSTER BY NONE: clear the layout
                t.set_properties(**{"write.zorder-by": ""})
            else:
                cols = [c.strip() for c in am.group(1).split(",")]
                names = {f.name for f in t.schema.fields}
                missing = [c for c in cols if c not in names]
                if missing:
                    raise ValueError(
                        f"CLUSTER BY references unknown columns "
                        f"{missing} (table has {sorted(names)})"
                    )
                t.set_properties(
                    **{"write.zorder-by": ",".join(cols)}
                )
            snap = t.snapshot()
            op = "alter cluster by"
        elif (am := _ALTER_SET_PROPS.match(action)) is not None:
            props = {}
            for part in _split_top_level(am.group(1)):
                if "=" not in part:
                    raise ValueError(
                        f"malformed TBLPROPERTIES entry: {part.strip()!r}"
                    )
                k, v = part.split("=", 1)
                props[k.strip().strip("'\"")] = v.strip().strip("'\"")
            t.set_properties(**props)
            snap = t.snapshot()
            op = "alter set tblproperties"
        else:
            raise ValueError(f"unsupported ALTER TABLE action: {action!r}")
        return self.spark.createDataFrame(
            [(op, ident, snap.version)],
            "operation string, table string, version long",
        )

    def _positional_cast(self, src: DataFrame, t: LakehouseTable):
        """ANSI INSERT resolution: the SELECT's columns map to the
        target's by POSITION and coerce to its types (a computed column
        keeps its expression name; a bare 5.0 literal is DECIMAL).
        Positional resolution also sidesteps computed-expression names
        (`CAST(-1.0 AS DOUBLE)` contains dots that df[name] would
        mis-parse as struct access). ANSI store assignment: a cast that
        turns a value into NULL is an error, not silent corruption."""
        fields = t.schema.fields
        if len(src.columns) != len(fields):
            raise ValueError(
                f"INSERT column count {len(src.columns)} does not "
                f"match table arity {len(fields)}"
            )
        src = src.toDF(*[f"_c{i}" for i in range(len(src.columns))])
        # one materialization feeds the cast audit AND the write
        src = src.localCheckpoint(eager=True)
        bad = src.select(
            *[
                F.sum(
                    (
                        src[c].isNotNull()
                        & src[c].try_cast(f.dataType).isNull()
                    ).cast("long")
                ).alias(f.name)
                for c, f in zip(src.columns, fields)
            ]
        ).first()
        broken = [f.name for f in fields if (bad[f.name] or 0) > 0]
        if broken:
            raise ValueError(
                f"INSERT cast produced NULLs in columns {broken}; "
                "fix the SELECT's types (ANSI store assignment)"
            )
        return src.select(
            *[
                src[c].cast(f.dataType).alias(f.name)
                for c, f in zip(src.columns, fields)
            ]
        )

    @staticmethod
    def _strip_alias(cond: str, alias: str | None, target: str) -> str:
        """Rewrite ``t.col`` / ``ns.tbl.col`` references in a matched /
        not-matched condition to bare column names (merge_into
        predicates range over one side's row only). Quote-aware: a
        string literal containing ``<alias>.`` keeps its bytes."""
        for prefix in (alias, target, target.rsplit(".", 1)[-1]):
            if prefix:
                cond = _sub_outside_quotes(
                    re.compile(rf"\b{re.escape(prefix)}\."), "", cond
                )
        return cond.strip()

    @staticmethod
    def _parse_merge_sets(
        sets_txt: str,
        t_prefixes: tuple,
        s_prefixes: tuple,
    ) -> list[tuple[str, str]]:
        """Parse ``WHEN MATCHED THEN UPDATE SET a = expr, b = expr``
        assignments. Target/source qualifiers (alias, table ident, bare
        table name) in the expressions are rewritten to the internal
        ``__mt``/``__ms`` join aliases; unqualified names resolve
        against the joined frame (ambiguous common columns raise in
        analysis, same as Delta)."""
        items: list[tuple[str, str]] = []
        for part in _split_top_level(sets_txt):
            em = re.match(r"\s*([\w.]+)\s*=\s*(.+?)\s*$", part, re.DOTALL)
            if em is None:
                raise ValueError(
                    f"unparseable SET assignment: {part.strip()!r}"
                )
            lhs = em.group(1)
            col = lhs.rsplit(".", 1)[-1]
            qual = lhs[: -len(col)].rstrip(".")
            if qual and qual not in {p for p in t_prefixes if p}:
                raise ValueError(
                    f"SET target {lhs!r} must be a TARGET column "
                    "(qualify with the target alias or leave bare)"
                )
            expr = em.group(2)
            for pref, repl in (
                (t_prefixes, "__mt."),
                (s_prefixes, "__ms."),
            ):
                for p in sorted(
                    {p for p in pref if p}, key=len, reverse=True
                ):
                    # quote-aware: 'contact s.smith' keeps its literal
                    expr = _sub_outside_quotes(
                        re.compile(rf"\b{re.escape(p)}\."), repl, expr
                    )
            items.append((col, expr.strip()))
        seen: set[str] = set()
        for col, _ in items:
            if col.lower() in seen:
                raise ValueError(f"duplicate SET target {col!r}")
            seen.add(col.lower())
        return items

    @staticmethod
    def _parse_by_source_sets(
        sets_txt: str,
        t_prefixes: tuple,
        s_prefixes: tuple,
    ) -> list[tuple[str, str]]:
        """Parse ``WHEN NOT MATCHED BY SOURCE THEN UPDATE SET a =
        expr, ...`` assignments. Unlike the matched door, by-source
        rows have NO source side: expressions range over TARGET
        columns only - target qualifiers strip to bare names
        (quote-aware), any source qualifier refuses loudly."""
        items: list[tuple[str, str]] = []
        tset = {p for p in t_prefixes if p}
        sset = {p for p in s_prefixes if p} - tset
        for part in _split_top_level(sets_txt):
            em = re.match(r"\s*([\w.]+)\s*=\s*(.+?)\s*$", part, re.DOTALL)
            if em is None:
                raise ValueError(
                    f"unparseable SET assignment: {part.strip()!r}"
                )
            lhs = em.group(1)
            col = lhs.rsplit(".", 1)[-1]
            qual = lhs[: -len(col)].rstrip(".")
            if qual and qual not in tset:
                raise ValueError(
                    f"by-source SET target {lhs!r} must be a TARGET "
                    "column (qualify with the target alias or leave "
                    "bare)"
                )
            expr = em.group(2)
            for p in sorted(tset, key=len, reverse=True):
                expr = _sub_outside_quotes(
                    re.compile(rf"\b{re.escape(p)}\."), "", expr
                )
            for p in sset:
                probe = _sub_outside_quotes(
                    re.compile(rf"\b{re.escape(p)}\."), "\0", expr
                )
                if probe != expr:
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE ... UPDATE SET "
                        "expressions may reference only TARGET columns "
                        f"(found source qualifier {p!r} in "
                        f"{em.group(2).strip()!r})"
                    )
            items.append((col, expr.strip()))
        seen: set[str] = set()
        for col, _ in items:
            if col.lower() in seen:
                raise ValueError(f"duplicate SET target {col!r}")
            seen.add(col.lower())
        return items

    @staticmethod
    def _parse_insert_list(
        icols: str,
        ivals: str,
        salias: str | None,
        src_name: str,
    ) -> list[tuple[str, str]]:
        """Parse ``WHEN NOT MATCHED THEN INSERT (a, b) VALUES (e1, e2)``
        into ``[(column, expr)]`` pairs. Column names are TARGET columns
        (a qualifier is tolerated and stripped); value expressions range
        over SOURCE columns only - source alias/table qualifiers rewrite
        to bare names (quote-aware), since the insert projection runs on
        the unmatched source frame, not a join."""
        cols = [c.strip() for c in icols.split(",") if c.strip()]
        vals = [v.strip() for v in _split_top_level(ivals) if v.strip()]
        if not cols:
            raise ValueError("INSERT column list is empty")
        if len(cols) != len(vals):
            raise ValueError(
                f"INSERT lists {len(cols)} column(s) but VALUES has "
                f"{len(vals)} expression(s)"
            )
        items: list[tuple[str, str]] = []
        seen: set[str] = set()
        for col, val in zip(cols, vals):
            if not re.fullmatch(r"[\w.]+", col):
                raise ValueError(
                    f"INSERT column must be an identifier, got {col!r}"
                )
            name = col.rsplit(".", 1)[-1]
            if name.lower() in seen:
                raise ValueError(f"duplicate INSERT column {name!r}")
            seen.add(name.lower())
            # longest prefix first (the _parse_merge_sets discipline):
            # stripping the alias before the dotted table name would
            # corrupt 'db.src.k' into 'db.k' when the alias is 'src'
            prefixes = {
                p
                for p in (
                    salias,
                    src_name,
                    src_name.rsplit(".", 1)[-1] if src_name else None,
                )
                if p
            }
            for prefix in sorted(prefixes, key=len, reverse=True):
                val = _sub_outside_quotes(
                    re.compile(rf"\b{re.escape(prefix)}\."), "", val
                )
            items.append((name, val.strip()))
        return items

    @staticmethod
    def _computed_row_projection(joined, set_map, fields, gen):
        """Full-row projection for a computed MERGE update row:
        assigned columns evaluate their expressions against the
        ORIGINAL ``__mt``/``__ms`` joined row (cast to the column type,
        simultaneous-assignment semantics), everything else carries
        from the target, and UNASSIGNED generated columns recompute
        AFTER the base select so they see assigned values. Shared by
        the column-level and multi-clause MERGE doors."""
        gen_lower = {g.lower() for g in gen}
        out = joined.select(
            *[
                F.expr(set_map[f.name.lower()])
                .cast(f.dataType)
                .alias(f.name)
                if f.name.lower() in set_map
                else F.col(f"__mt.{f.name}").alias(f.name)
                for f in fields
                if f.name.lower() in set_map
                or f.name.lower() not in gen_lower
            ]
        )
        for gname, gexpr in gen.items():
            if gname.lower() not in set_map:
                gtype = next(
                    f.dataType
                    for f in fields
                    if f.name.lower() == gname.lower()
                )
                out = out.withColumn(gname, F.expr(gexpr).cast(gtype))
        return out.select(*[f.name for f in fields])

    @staticmethod
    def _aligned_insert_rows(ins, fields, gen):
        """Unmatched source rows aligned to the table schema by name:
        missing non-generated columns fill with typed NULLs, generated
        columns MISSING from the source recompute from their
        expressions (source-provided ones pass through and face the
        write-path equality gate, same as the append door). Shared by
        the column-level and multi-clause MERGE doors."""
        scols = {c.lower(): c for c in ins.columns}
        gen_missing = {
            g: e for g, e in gen.items() if g.lower() not in scols
        }
        gm_lower = {g.lower() for g in gen_missing}
        out = ins.select(
            *[
                F.col(scols[f.name.lower()])
                .cast(f.dataType)
                .alias(f.name)
                if f.name.lower() in scols
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in fields
                if f.name.lower() not in gm_lower
            ]
        )
        for gname, gexpr in gen_missing.items():
            gtype = next(
                f.dataType
                for f in fields
                if f.name.lower() == gname.lower()
            )
            out = out.withColumn(gname, F.expr(gexpr).cast(gtype))
        return out.select(*[f.name for f in fields])

    def _merge_multi_clauses(
        self,
        t: LakehouseTable,
        src_df: DataFrame,
        keys: list[str],
        clauses: list[tuple[str | None, str, list | None]],
        insert_clauses: list[tuple[str | None, list | None]],
        by_source: str,
        evolve: bool = False,
        stage_as: str | None = None,
    ):
        """Delta's multi-clause WHEN MATCHED matrix, first-match-wins
        per target row: each clause is ``(condition, action, sets)``
        with action ``delete`` / ``update_star`` / ``update_sets``;
        conditions range over TABLE columns and every clause but the
        last must carry one (Delta's rule). ``insert_clauses`` (r11)
        is the WHEN NOT MATCHED side of the same matrix: each entry is
        ``(condition over SOURCE columns | None, column-list | None)``
        - ``None`` column-list means ``INSERT *`` - evaluated
        first-match-wins per UNMATCHED source row (a row firing no
        clause drops); a column list projects the row through its
        VALUES expressions, unlisted target columns fill with typed
        NULLs and missing generated columns recompute. Zero or one
        WHEN MATCHED clauses route here too when the insert side needs
        the compiler. Compiled onto
        :func:`dml.merge_into`'s row-replace door: the updates frame
        holds one computed row per (fired target row), delete-clause
        rows carry a ``__merge_del`` directive flag (consumed keys,
        nothing re-enters), the matched condition is the OR of all
        clause conditions, and each clause's rows are built from the
        target pre-filtered by its FIRST-FIRE predicate (its condition
        AND NOT any earlier one). One atomic file-pruned commit.

        Cost shape: the N first-fire filters PARTITION the matched
        rows, so total row work across the N clause joins is one
        pass's worth; the target's matched files are scanned once per
        clause (N small re-reads of pruned files, traded for keeping
        every clause on the shared computed-row builder instead of a
        per-column CASE tangle)."""
        from .dml import merge_into

        if by_source != "keep":
            # a matched key whose rows fire NO clause would be absent
            # from the computed key set and the by-source action would
            # wrongly fire on it (sync drops it / update mutates it);
            # for column-list inserts the projected keys can differ
            # from the raw source keys, breaking the key-set model
            raise ValueError(
                "multiple WHEN MATCHED clauses / column-list INSERT "
                "cannot combine with WHEN NOT MATCHED BY SOURCE "
                "clauses"
            )
        conds = [c for c, _, _ in clauses]
        if any(c is None for c in conds[:-1]):
            raise ValueError(
                "only the LAST of multiple WHEN MATCHED clauses may "
                "omit AND <condition>"
            )
        nm_conds = [c for c, _ in insert_clauses]
        if any(c is None for c in nm_conds[:-1]):
            raise ValueError(
                "only the LAST of multiple WHEN NOT MATCHED clauses "
                "may omit AND <condition>"
            )
        # one materialization: the source feeds N clause joins plus the
        # INSERT anti-join as INDEPENDENT subtrees - a non-deterministic
        # source could fire different clauses per subtree (merge_into
        # checkpoints its source for the same reason)
        src_df = src_df.localCheckpoint(eager=True)
        fields = t.schema.fields
        lower_keys = {k.lower() for k in keys}
        tcols = {f.name.lower() for f in fields}
        scols = {c.lower(): c for c in src_df.columns}
        if "__merge_del" in tcols or "__merge_del" in scols:
            raise ValueError(
                "multi-clause MERGE reserves the column name "
                "'__merge_del'"
            )
        gen = t.generated_columns()
        for _c, action, sets in clauses:
            if action == "update_sets":
                for col, _e in sets:
                    if col.lower() in lower_keys:
                        raise ValueError(
                            f"MERGE cannot SET the key column {col!r}"
                        )
                    if col.lower() not in tcols and not evolve:
                        raise ValueError(
                            f"SET target {col!r} is not a table "
                            "column; MERGE WITH SCHEMA EVOLUTION "
                            "adds it"
                        )
        for _c, ilist in insert_clauses:
            if ilist is None:
                continue  # INSERT *: aligns by name, nothing to check
            # unlike SET, the insert list may (and normally must) name
            # the key columns - inserted rows need key values
            for col, _e in ilist:
                if col.lower() not in tcols and not evolve:
                    raise ValueError(
                        f"INSERT column {col!r} is not a table "
                        "column; MERGE WITH SCHEMA EVOLUTION adds it"
                    )
            # the compiled frame flows through merge_into's key model
            # (anti-join on the BUILT rows' keys): a VALUES expression
            # that transforms a key could collide with an existing
            # table key and silently drop or double-apply the row -
            # require each merge key to map identically from the
            # source (the common Delta spelling; anything else refuses
            # loudly instead of risking wrong results)
            imap = {c.lower(): e for c, e in ilist}
            for k in keys:
                e = imap.get(k.lower())
                if e is None or e.strip().lower() != k.lower():
                    raise ValueError(
                        "column-list INSERT must assign key column "
                        f"{k!r} its bare source column "
                        f"(... INSERT (..., {k}, ...) VALUES "
                        f"(..., {k}, ...)); got "
                        f"{e!r}"
                    )

        def fire(i: int) -> str:
            own = conds[i] if conds[i] is not None else "true"
            parts = [f"coalesce(({own}), false)"]
            for c in conds[:i]:
                parts.append(f"NOT coalesce(({c}), false)")
            return " AND ".join(parts)

        combined = (
            " OR ".join(
                f"coalesce(({c if c is not None else 'true'}), false)"
                for c in conds
            )
            # zero WHEN MATCHED clauses (insert-only column-list
            # MERGE): matched target rows all keep the table version
            or "false"
        )
        def build_updates(fields):
            tdf = t.scan()
            key_eq = None
            for k in keys:
                eq = F.col(f"__mt.{k}") == F.col(f"__ms.{k}")
                key_eq = eq if key_eq is None else (key_eq & eq)
            fnames = {f.name.lower() for f in fields}
            parts: list[DataFrame] = []
            for i, (_c, action, sets) in enumerate(clauses):
                j = (
                    tdf.filter(F.expr(fire(i)))
                    .alias("__mt")
                    .join(src_df.alias("__ms"), key_eq, "inner")
                )
                if action == "delete":
                    row = j.select(
                        *[
                            F.col(f"__mt.{f.name}").alias(f.name)
                            for f in fields
                        ]
                    )
                    parts.append(
                        row.withColumn("__merge_del", F.lit(True))
                    )
                    continue
                if action == "update_star":
                    # row-replace parity with the single-clause door:
                    # a source missing a non-key table column errors
                    # instead of silently keeping stale target values
                    missing = [
                        f.name
                        for f in fields
                        if f.name.lower() not in scols
                        and f.name.lower() not in lower_keys
                    ]
                    if missing:
                        raise ValueError(
                            "UPDATE SET * requires the source to carry "
                            f"every table column; missing {missing}"
                        )
                    set_map = {
                        f.name.lower(): f"__ms.{scols[f.name.lower()]}"
                        for f in fields
                        if f.name.lower() in scols
                        and f.name.lower() not in lower_keys
                    }
                else:
                    # pre-evolution probe passes restrict assignments
                    # to columns that exist in `fields`
                    set_map = {
                        c.lower(): e
                        for c, e in sets
                        if c.lower() in fnames
                    }
                parts.append(
                    self._computed_row_projection(
                        j, set_map, fields, gen
                    ).withColumn("__merge_del", F.lit(False))
                )
            updates = parts[0] if parts else None
            for p in parts[1:]:
                updates = updates.unionByName(p)
            if insert_clauses:
                ins0 = src_df.join(
                    tdf.select(*keys).distinct(),
                    on=keys,
                    how="left_anti",
                )
                for i, (c_i, ilist) in enumerate(insert_clauses):
                    # first-match-wins over SOURCE rows: this clause's
                    # condition AND NOT any earlier clause's
                    own = c_i if c_i is not None else "true"
                    fire_nm = [f"coalesce(({own}), false)"] + [
                        f"NOT coalesce(({c}), false)"
                        for c in nm_conds[:i]
                    ]
                    ins = ins0.filter(F.expr(" AND ".join(fire_nm)))
                    if ilist is not None:
                        # column-list insert: the row is BUILT from the
                        # VALUES expressions over the source row; the
                        # pre-evolution probe pass restricts to columns
                        # that exist in `fields` (same discipline as
                        # update_sets), post-evolution re-runs with the
                        # full list
                        ins = ins.select(
                            *[
                                F.expr(e).alias(c)
                                for c, e in ilist
                                if c.lower() in fnames
                            ]
                        )
                    ins_rows = self._aligned_insert_rows(
                        ins, fields, gen
                    ).withColumn("__merge_del", F.lit(False))
                    updates = (
                        ins_rows
                        if updates is None
                        else updates.unionByName(ins_rows)
                    )
            if updates is None:
                raise ValueError(
                    "MERGE compiled to no clause work (no WHEN "
                    "MATCHED clauses and no INSERT)"
                )
            return updates

        missing_targets = sorted(
            {
                col.lower()
                for _c, action, sets in clauses
                if action == "update_sets"
                for col, _e in sets
                if col.lower() not in tcols
            }
        )
        if evolve:
            # the same fail-open discipline as the column-level door:
            # validate the CHECK/generated gate against the
            # PRE-evolution schema BEFORE the first schema commit (the
            # entering rows are exactly computable from pre-evolution
            # columns - new columns cannot carry constraints)
            from .dml import add_column, evolve_schema_for

            has_star = any(a == "update_star" for _c, a, _s in clauses)
            if has_star and missing_targets:
                # decidable BEFORE any schema commit: an evolving SET
                # target the source lacks would make every UPDATE SET *
                # clause fail AFTER evolution - forever (the column is
                # still not a source column on retry)
                raise ValueError(
                    "UPDATE SET * cannot compose with evolving SET "
                    f"target(s) the source lacks: {missing_targets}"
                )
            probe = build_updates(fields).filter(
                ~F.col("__merge_del")
            ).drop("__merge_del")
            t._validate_constraints(probe, t.snapshot(), op="merge")
            if has_star or any(
                ilist is None for _c, ilist in insert_clauses
            ):
                # SET * / INSERT * under evolution union the full
                # source schema in (the row-replace door's semantics);
                # a column-list INSERT evolves only its NAMED targets
                # (Delta parity), handled below like SET targets
                evolve_schema_for(t, src_df)
            now = {f.name.lower() for f in t.schema.fields}
            for i, (_c, action, sets) in enumerate(clauses):
                if action != "update_sets":
                    continue
                for col, expr in sets:
                    if (
                        col.lower() in missing_targets
                        and col.lower() not in now
                    ):
                        j0 = (
                            t.scan()
                            .filter(F.expr(fire(i)))
                            .alias("__mt")
                            .join(
                                src_df.alias("__ms"),
                                F.lit(True),
                                "inner",
                            )
                        )
                        dt = (
                            j0.select(F.expr(expr).alias("__probe"))
                            .schema[0]
                            .dataType
                        )
                        add_column(t, col, dt.jsonValue())
                        now.add(col.lower())
            for _c, ilist in insert_clauses:
                if ilist is None:
                    continue
                # evolving INSERT targets: typed from the VALUES
                # expression probed over the SOURCE frame (the insert
                # projection runs on unmatched source rows)
                for col, expr in ilist:
                    if col.lower() not in now:
                        dt = (
                            src_df.select(F.expr(expr).alias("__probe"))
                            .schema[0]
                            .dataType
                        )
                        add_column(t, col, dt.jsonValue())
                        now.add(col.lower())
            fields = t.schema.fields  # post-evolution
        updates = build_updates(fields)
        return merge_into(
            t,
            updates,
            key=keys,
            when_matched="update",
            matched_condition=combined,
            # insert conditions were applied while BUILDING the frame
            # (they range over raw source columns a projected row may
            # not carry)
            when_not_matched="insert" if insert_clauses else "ignore",
            when_not_matched_by_source="keep",
            source_delete_condition="__merge_del",
            stage_as=stage_as,
        )

    def _merge_column_sets(
        self,
        t: LakehouseTable,
        src_df: DataFrame,
        keys: list[str],
        sets: list[tuple[str, str]],
        matched_condition: str | None,
        when_not_matched: str,
        not_matched_condition: str | None,
        by_source: str,
        evolve: bool,
        by_source_condition: str | None = None,
        by_source_sets: list[tuple[str, str]] | None = None,
        by_source_clauses: list[tuple] | None = None,
        stage_as: str | None = None,
    ):
        """Execute MERGE with column-level ``UPDATE SET``: compute the
        full post-update rows (target joined to source on the keys,
        assigned columns from their expressions, everything else
        carried through) and run them through :func:`dml.merge_into`'s
        row-replace door. Every assignment expression evaluates against
        the ORIGINAL joined row (simultaneous assignment - ``SET a=b,
        b=a`` swaps), and each result is cast to the table column's
        type (Delta's store-assignment casting).

        ``evolve=True`` (MERGE WITH SCHEMA EVOLUTION) reconciles the
        schema BEFORE computing - new SET targets add (typed from their
        expression) and, when INSERT * is present, the full source
        schema unions in via :func:`dml.evolve_schema_for` (the same
        semantics as the row-replace door) - but only AFTER the
        incoming rows pass the CHECK/generated gate against the
        PRE-evolution schema, so a refused merge cannot strand an
        evolved schema. Without the flag an unknown SET target refuses.
        INSERT * maps source columns by name and fills missing
        non-generated table columns with typed NULLs; generated columns
        are always RECOMPUTED from their expressions (both branches)
        unless explicitly SET."""
        from .dml import add_column, evolve_schema_for, merge_into

        lower_keys = {k.lower() for k in keys}
        for col, _ in sets:
            if col.lower() in lower_keys:
                raise ValueError(f"MERGE cannot SET the key column {col!r}")
        bs_present = by_source != "keep" or bool(by_source_clauses)
        if bs_present and matched_condition is not None:
            # a cond-failing matched row's key would be absent from the
            # computed updates and the by-source action would wrongly
            # fire on it (sync drops it / update mutates it)
            raise ValueError(
                "column-level SET cannot combine WHEN MATCHED AND <cond> "
                "with WHEN NOT MATCHED BY SOURCE clauses"
            )
        if evolve and (
            by_source == "update"
            or any(a == "update" for _c, a, _s in by_source_clauses or [])
        ):
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE ... UPDATE SET does not "
                "compose with WITH SCHEMA EVOLUTION; evolve first"
            )
        set_map = {c.lower(): e for c, e in sets}
        gen = t.generated_columns()

        def build(fields):
            """Full-row updates frame over ``fields``: matched rows
            computed from the join (shared
            :meth:`_computed_row_projection` - assignments against the
            ORIGINAL row, unassigned generated columns recomputed),
            plus - when INSERT * - unmatched source rows aligned by
            name (shared :meth:`_aligned_insert_rows`)."""
            tdf = t.scan()
            tdf_m = (
                tdf.filter(F.expr(matched_condition))
                if matched_condition is not None
                else tdf
            )
            cond_expr = None
            for k in keys:  # plain equality - merge_into's key model
                eq = F.col(f"__mt.{k}") == F.col(f"__ms.{k}")
                cond_expr = eq if cond_expr is None else (cond_expr & eq)
            joined = tdf_m.alias("__mt").join(
                src_df.alias("__ms"), cond_expr, "inner"
            )
            computed = self._computed_row_projection(
                joined, set_map, fields, gen
            )
            if when_not_matched != "insert":
                return computed, joined
            ins = src_df.join(
                tdf.select(*keys).distinct(), on=keys, how="left_anti"
            )
            if not_matched_condition is not None:
                ins = ins.filter(
                    F.coalesce(
                        F.expr(not_matched_condition), F.lit(False)
                    )
                )
            return (
                computed.unionByName(
                    self._aligned_insert_rows(ins, fields, gen)
                ),
                joined,
            )

        tcols = {f.name.lower() for f in t.schema.fields}
        missing = [(c, e) for c, e in sets if c.lower() not in tcols]
        if missing and not evolve:
            raise ValueError(
                f"SET target {missing[0][0]!r} is not a table column; "
                "MERGE WITH SCHEMA EVOLUTION adds it"
            )
        if evolve:
            # the incoming rows are exactly computable from the
            # PRE-evolution columns alone (new columns cannot carry
            # constraints), so the CHECK/generated gate runs BEFORE the
            # first schema commit - a refused merge leaves the schema
            # untouched (the dml.py fast-path probe's discipline)
            pre_fields = [
                f
                for f in t.schema.fields
                if f.name.lower() not in {c.lower() for c, _ in missing}
            ]
            probe, joined0 = build(pre_fields)
            t._validate_constraints(probe, t.snapshot(), op="merge")
            if when_not_matched == "insert":
                # INSERT * under evolution unions the full source
                # schema in, same as the row-replace door
                evolve_schema_for(t, src_df)
            now = {f.name.lower() for f in t.schema.fields}
            for col, expr in missing:
                if col.lower() in now:
                    continue  # evolve_schema_for already added it
                dt = (
                    joined0.select(F.expr(expr).alias("__probe"))
                    .schema[0]
                    .dataType
                )
                add_column(t, col, dt.jsonValue())
        updates, _ = build(t.schema.fields)  # post-evolution
        return merge_into(
            t,
            updates,
            key=keys,
            when_matched="update",
            matched_condition=matched_condition,
            when_not_matched=when_not_matched,
            when_not_matched_by_source=by_source,
            by_source_condition=by_source_condition,
            by_source_sets=by_source_sets,
            by_source_clauses=by_source_clauses,
            stage_as=stage_as,
        )

    def transaction(self) -> "MultiTableTransaction":
        """Begin a catalog-level multi-table transaction: stage appends
        on N tables, commit them all-or-nothing through one atomic
        record swap (see ``transactions`` module docstring for the
        exact semantics). Entry first RECOVERS any crashed transaction
        in this warehouse - committed ones roll forward, uncommitted
        ones roll back - so the all-or-nothing invariant holds before
        new work stages on top."""
        from .transactions import MultiTableTransaction, recover_transactions

        recover_transactions(self)
        return MultiTableTransaction(self)

    def sql(self, query: str) -> DataFrame:
        """Run SQL over the registered views (sugar for
        ``register_views()`` + ``spark.sql``; re-registers first so the
        query always sees the latest committed snapshots).

        DML statements route to the table-format engines instead of
        Spark's parser (temp views are not writable): ``DELETE FROM
        ns.table WHERE <cond>`` and ``UPDATE ns.table SET col = expr,
        ... WHERE <cond>`` compile to :func:`dml.delete_where` /
        :func:`dml.update_where` (file-pruned copy-on-write) and return
        a one-row summary frame. The table is named by its dotted
        identifier; conditions and assignment expressions are any Spark
        SQL expressions over the table's columns.

        ``BEGIN [TRANSACTION]`` / ``COMMIT`` / ``ROLLBACK`` drive a
        catalog-level multi-table transaction (r13): between BEGIN and
        COMMIT every ``INSERT INTO ... SELECT`` STAGES (invisible,
        GC-protected) instead of appending, and ``UPDATE`` /
        ``DELETE ... WHERE`` stage their CoW rewrites the same way
        (r14; one row-DML statement per table per transaction, no
        mixing with appends on the same table), as does the full
        ``MERGE`` clause matrix (except WITH SCHEMA EVOLUTION, whose
        metadata commits precede the merge). COMMIT publishes
        everything all-or-nothing through one atomic record swap.
        Remaining row-mutating verbs (TRUNCATE, INSERT OVERWRITE,
        maintenance CALLs) are refused while a transaction is open -
        they would silently autocommit outside it. Crash recovery is
        ``CALL system.recover_transactions([grace_ms])``."""
        from pyspark.sql import functions as F

        with self._txn_verb_lock:
            txn = self._active_txn
            if txn is not None and txn._state != "pending":
                # resolved through the Python handle: drop the stale
                # pointer
                self._active_txn = txn = None
        m = _DML_BEGIN.match(query)
        if m:
            # check-and-set under the lock (ADVICE r13): two threads
            # racing BEGIN through one catalog handle must serialize -
            # the loser fails loudly instead of clobbering the winner's
            # transaction pointer. transaction() (which runs recovery)
            # stays inside the lock so the loser cannot slip between
            # the check and the set.
            with self._txn_verb_lock:
                if self._active_txn is not None:
                    raise ValueError(
                        f"transaction {self._active_txn.txn_id} is "
                        "already open; COMMIT or ROLLBACK it first "
                        "(nested transactions are not supported)"
                    )
                self._active_txn = new_txn = self.transaction()
            # read the LOCAL, not self._active_txn: another misusing
            # thread could clear the pointer between lock release and
            # here, turning the designed loud error into an
            # AttributeError (review r14)
            return self.spark.createDataFrame(
                [("begin transaction", new_txn.txn_id)],
                "operation string, txn_id string",
            )
        m = _DML_COMMIT.match(query)
        if m:
            if txn is None:
                raise ValueError("COMMIT without an open transaction")
            # clear the pointer only AFTER the verb succeeds: a
            # transient failure must leave the SQL handle retryable
            # (review r13; the entry check above already drops handles
            # a failed commit left in state=committed for recovery)
            published = txn.commit()
            with self._txn_verb_lock:
                if self._active_txn is txn:
                    self._active_txn = None
            return self.spark.createDataFrame(
                [(
                    "commit transaction",
                    txn.txn_id,
                    len(txn.participants),
                    len(published),
                )],
                "operation string, txn_id string, staged_appends long, "
                "tables_published long",
            )
        m = _DML_ROLLBACK.match(query)
        if m:
            if txn is None:
                raise ValueError("ROLLBACK without an open transaction")
            n = txn.abort()  # pointer cleared only on success, as above
            with self._txn_verb_lock:
                if self._active_txn is txn:
                    self._active_txn = None
            return self.spark.createDataFrame(
                [("rollback transaction", txn.txn_id, n)],
                "operation string, txn_id string, files_removed long",
            )
        if txn is not None:
            routed = self._txn_row_dml(txn, query)
            if routed is not None:
                return routed
            self._txn_statement_guard(query)
        m = _DML_CLONE.match(query)
        if m:
            if not m.group("shallow"):
                # Delta semantics: an unqualified CLONE is a DEEP copy.
                # This engine implements only the zero-copy variant, so
                # silently treating bare CLONE as shallow would hand the
                # user source-vacuum hazards they did not ask for
                # (ADVICE r7) - demand the explicit keyword.
                raise ValueError(
                    "CLONE without SHALLOW means a deep copy (Delta "
                    "semantics), which this engine does not implement; "
                    "write CREATE TABLE ... SHALLOW CLONE ... to get "
                    "the zero-copy clone explicitly"
                )
            t = self.clone_table(
                m.group("src"),
                m.group("dst"),
                version=int(m.group("ver")) if m.group("ver") else None,
            )
            return self.spark.createDataFrame(
                [
                    (
                        "clone",
                        m.group("dst"),
                        m.group("src"),
                        t.current_version(),
                    )
                ],
                "operation string, table string, source string, "
                "version long",
            )
        # RESTORE carries its own VERSION/TIMESTAMP AS OF clause - like
        # CLONE, it must match BEFORE the time-travel rewrite, which
        # would otherwise swallow the clause into a pinned temp view
        m = _DML_RESTORE.match(query)
        if m:
            t = self.load_table(m.group("ident"))
            target = m.group("target")
            if m.group("kind").upper() == "VERSION":
                if target.isdigit():
                    snap = t.restore_to(int(target))
                else:
                    # quoted ref name, matching VERSION AS OF: resolve
                    # via the ref table (a divergent branch cannot be
                    # "restored to" - its head is not on main's chain)
                    name = target.strip("'")
                    refs = t.refs()
                    if name not in refs:
                        raise ValueError(
                            "RESTORE ... VERSION AS OF wants an integer "
                            f"version or a ref name; {name!r} is "
                            f"neither (refs: {sorted(refs)})"
                        )
                    if name in t.branch_names():
                        raise ValueError(
                            f"{name!r} is a branch with divergent "
                            "commits; its head is not a main-chain "
                            "version - publish_branch it instead"
                        )
                    snap = t.restore_to(refs[name])
            else:
                import datetime as _dt

                try:
                    instant = _dt.datetime.fromisoformat(
                        target.strip("'")
                    )
                except ValueError as e:
                    raise ValueError(
                        "RESTORE ... TIMESTAMP AS OF wants a quoted "
                        f"ISO timestamp, got {target}"
                    ) from e
                if instant.tzinfo is None:  # naive literal = UTC;
                    # an explicit offset is respected as written
                    instant = instant.replace(tzinfo=_dt.timezone.utc)
                snap = t.restore_to(
                    timestamp_ms=int(instant.timestamp() * 1000)
                )
            return self.spark.createDataFrame(
                [("restore", m.group("ident"), snap.version)],
                "operation string, table string, version long",
            )
        m = _DML_CALL.match(query)
        if m:
            return self._sql_call(m.group("proc").lower(), m.group("args"))
        m = _DML_COPY_INTO.match(query)
        if m:
            fmt = (m.group("fmt") or "PARQUET").upper()
            if fmt != "PARQUET":
                raise ValueError(
                    f"COPY INTO supports FILEFORMAT = PARQUET, got {fmt}"
                )
            return self._sql_copy_into(m.group("ident"), m.group("src"))
        m = _DML_SHOW_CREATE.match(query)
        if m:
            return self._sql_show_create(m.group("ident"))
        if _METADATA_TABLE.search(query):
            # <ns>.<table>.<meta> -> temp view over the matching
            # inspect frame (Iceberg's metadata tables: layout/history
            # questions in plain SQL, zero data reads). Quote-aware sub:
            # a matching token inside a string literal (WHERE note =
            # 'ns.tbl.files') stays a literal.
            def _meta(m2: re.Match) -> str:
                ident = f"{m2.group('ns')}.{m2.group('tbl')}"
                if not self.table_exists(ident):
                    return m2.group(0)  # not ours (e.g. a udf call)
                meta = m2.group("meta").lower()
                t2 = self.load_table(ident)
                frame = getattr(t2, f"inspect_{meta}")()
                vname = f"__meta_{self.view_name(ident)}_{meta}"
                frame.createOrReplaceTempView(vname)
                return vname

            query = _sub_outside_quotes(_METADATA_TABLE, _meta, query)
        if _TABLE_CHANGES.search(query):
            # rewrite each table_changes('t', from[, to]) call to a
            # temp view over the version-range changelog (insert/delete
            # rows + _change_type/_change_version) - Delta's CDF read
            def _tc(m2: re.Match) -> str:
                t2 = self.load_table(m2.group("ident"))
                frm = int(m2.group("frm"))
                to = int(m2.group("to")) if m2.group("to") else None
                vname = (
                    f"__tc_{self.view_name(m2.group('ident'))}"
                    f"_{frm}_{to if to is not None else 'head'}"
                )
                t2.scan_changelog(frm, to).createOrReplaceTempView(
                    vname
                )
                return vname

            query = _sub_outside_quotes(_TABLE_CHANGES, _tc, query)
        if _TIME_TRAVEL.search(query):
            query = self._rewrite_time_travel(query)
        m = _DML_DELETE.match(query)
        if m:
            from .dml import delete_where, truncate_table

            t = self.load_table(m.group(1))
            if m.group(2) is None:
                # standard SQL: DELETE without WHERE drops every row -
                # the metadata-only truncate path (rows stay reachable
                # through older snapshots until expiry)
                snap = truncate_table(t)
            else:
                snap = delete_where(t, F.expr(m.group(2)))
            return self.spark.createDataFrame(
                [("delete", m.group(1), snap.version)],
                "operation string, table string, version long",
            )
        m = _DML_UPDATE.match(query)
        if m:
            from .dml import update_where

            t = self.load_table(m.group(1))
            pred, assignments = self._parse_update_clause(m.group(2))
            snap = update_where(t, pred, assignments)
            return self.spark.createDataFrame(
                [("update", m.group(1), snap.version)],
                "operation string, table string, version long",
            )
        m = _DML_MERGE_HEAD.match(query)
        if m:
            return self._sql_merge(m)
        m = _DML_ALTER.match(query)
        if m:
            return self._sql_alter(m.group(1), m.group(2))
        m = _DML_SHOW_NAMESPACES.match(query)
        if m:
            return self.spark.createDataFrame(
                [(ns,) for ns in self.list_namespaces()] or [],
                "namespace string",
            )
        m = _DML_SHOW_TBLPROPERTIES.match(query)
        if m:
            t = self.load_table(m.group(1))
            return self.spark.createDataFrame(
                sorted(t.properties().items()) or [],
                "key string, value string",
            )
        m = _DML_SHOW_TABLES.match(query)
        if m:
            spaces = [m.group(1)] if m.group(1) else self.list_namespaces()
            rows = [
                (ns, ident.rsplit(".", 1)[1])
                for ns in spaces
                for ident in self.list_tables(ns)
            ]
            return self.spark.createDataFrame(
                rows or [], "namespace string, table string"
            )
        m = _DML_ANALYZE.match(query)
        if m:
            from .maintenance import analyze_table

            t = self.load_table(m.group(1))
            cols = (
                [c.strip() for c in m.group(2).split(",")]
                if m.group(2)
                else None
            )
            res = analyze_table(t, columns=cols)
            return self.spark.createDataFrame(
                [("analyze", m.group(1), len(res), t.current_version())],
                "operation string, table string, n_columns long, "
                "stats_version long",
            )
        m = _DML_SHOW_STATS.match(query)
        if m:
            from .maintenance import column_stats

            return column_stats(self.load_table(m.group(1)))
        m = _DML_DESCRIBE_DETAIL.match(query)
        if m:
            from .maintenance import table_metrics

            met = table_metrics(self.load_table(m.group(1)))
            return self.spark.createDataFrame(
                [
                    (
                        m.group(1),
                        met["version"],
                        met["data_files"],
                        met["rows"],
                        met["total_bytes"],
                        float(met["small_file_ratio"]),
                        met["pos_delete_files"],
                        met["eq_delete_files"],
                        met["manifest_files"],
                        met["partitions"],
                        met["snapshots"],
                    )
                ],
                "table string, version long, data_files long, rows long, "
                "total_bytes long, small_file_ratio double, "
                "pos_delete_files long, eq_delete_files long, "
                "manifest_files long, partitions long, snapshots long",
            )
        m = _DML_DESCRIBE_HISTORY.match(query)
        if m:
            return self.load_table(m.group(1)).inspect_history()
        m = _DML_SHOW_PARTITIONS.match(query)
        if m:
            return self.load_table(m.group(1)).inspect_partitions()
        m = _DML_SHOW_REFS.match(query)
        if m:
            return self.load_table(m.group(1)).inspect_refs()
        if _DML_SHOW_TRANSACTIONS.match(query):
            # the transaction log as rows (r13): one per record -
            # pending/committed state, age, participant tables. Claims
            # surface as state='publishing' (an owner or recovery is
            # mid-publish). Read-only peek; never claims or mutates.
            return self._sql_show_transactions()
        m = _DML_DESCRIBE.match(query)
        if m:
            t = self.load_table(m.group(1))
            rows = [
                (
                    f.name,
                    f.dataType.simpleString(),
                    ", ".join(
                        f"{p.transform}({p.source})"
                        for p in t.partition_spec
                        if p.source == f.name
                    )
                    or None,
                )
                for f in t.schema.fields
            ]
            return self.spark.createDataFrame(
                rows, "column string, type string, partition string"
            )
        m = _DML_CREATE_MV.match(query)
        if m:
            t = self.create_materialized_view(m.group(1), m.group(2))
            n = int(t.snapshot().summary.get("added_rows", t.to_df().count()))
            return self.spark.createDataFrame(
                [("create materialized view", m.group(1), n)],
                "operation string, table string, rows long",
            )
        m = _DML_REFRESH_MV.match(query)
        if m:
            snap = self.refresh_materialized_view(m.group(1))
            t = self.load_table(m.group(1))
            return self.spark.createDataFrame(
                [
                    (
                        "refresh materialized view",
                        m.group(1),
                        t.current_version() if snap is None else snap.version,
                    )
                ],
                "operation string, table string, version long",
            )
        m = _DML_CREATE_VIEW.match(query)
        if m:
            self.register_views()
            self._register_stored_views()
            self.spark.sql(m.group(2))  # validate eagerly, loud errors
            self.create_stored_view(
                m.group(1), m.group(2),
                replace="REPLACE" in query.upper().split("VIEW")[0],
            )
            return self.spark.createDataFrame(
                [("create view", m.group(1))], "operation string, view string"
            )
        m = _DML_DROP_VIEW.match(query)
        if m:
            existed = self.drop_stored_view(
                m.group(2), if_exists=m.group(1) is not None
            )
            return self.spark.createDataFrame(
                [("drop view", m.group(2), existed)],
                "operation string, view string, existed boolean",
            )
        m = _DML_CTAS.match(query)
        if m:
            # CREATE TABLE ns.t [PARTITIONED BY (col | transform(col))]
            # AS SELECT ...: schema comes from the query, data lands as
            # the first append. Transforms accept identity columns,
            # years/months/days/hours(col), bucket(N, col),
            # truncate(W, col).
            ident = m.group(1)
            if self.table_exists(ident):
                raise ValueError(f"table already exists: {ident}")
            self.register_views()
            self._register_stored_views()
            src = self.spark.sql(m.group(3))
            spec = (
                [_parse_partition_field(p) for p in _split_top_level(m.group(2))]
                if m.group(2)
                else []
            )
            ns = ident.rsplit(".", 1)[0]
            self.create_namespace(ns)
            t = self.create_table(ident, src.schema, spec)
            # one materialization: count and append read the same rows
            # (a non-deterministic SELECT must not report a row count
            # that differs from what was written)
            src = src.localCheckpoint(eager=True)
            n = src.count()
            if n:
                t.append(src)
            return self.spark.createDataFrame(
                [("create table as", ident, t.current_version(), n)],
                "operation string, table string, version long, rows long",
            )
        m = _DML_DROP.match(query)
        if m:
            ident = m.group(2)
            existed = self.table_exists(ident)
            if not existed and m.group(1) is None:
                raise NoSuchTableError(ident)
            self.drop_table(ident)
            return self.spark.createDataFrame(
                [("drop table", ident, existed)],
                "operation string, table string, existed boolean",
            )
        if _DML_REPLACE_WHERE_HEAD.match(query) and not (
            _DML_REPLACE_WHERE.match(query)
        ):
            raise ValueError(
                "REPLACE WHERE takes a plain predicate followed by a "
                "SELECT (subqueries in the predicate are not "
                "supported): INSERT INTO t REPLACE WHERE <pred> "
                "SELECT ..."
            )
        m = _DML_REPLACE_WHERE.match(query)
        if m:
            # must match BEFORE plain INSERT (whose SELECT-group would
            # swallow the REPLACE WHERE clause as garbage)
            from .dml import replace_where

            t = self.load_table(m.group(1))
            self.register_views()
            self._register_stored_views()
            src = self._positional_cast(
                self.spark.sql(m.group(3)), t
            )
            snap = replace_where(t, src, m.group(2))
            return self.spark.createDataFrame(
                [("replace where", m.group(1), snap.version)],
                "operation string, table string, version long",
            )
        m = _DML_INSERT.match(query)
        if m:
            # the SELECT runs over the registered views (reads may
            # reference any table, including the target's pre-insert
            # snapshot); INTO appends, OVERWRITE swaps the touched
            # partitions (dynamic overwrite)
            from .dml import overwrite_partitions

            t = self.load_table(m.group(2))
            self.register_views()
            self._register_stored_views()
            src = self._positional_cast(self.spark.sql(m.group(3)), t)
            if m.group(1).upper() == "INTO":
                if self._active_txn is not None:
                    # inside BEGIN..COMMIT: stage, don't append - the
                    # rows become visible only at COMMIT, atomically
                    # with every other staged INSERT (r13)
                    sid = self._active_txn.append(m.group(2), src)
                    return self.spark.createDataFrame(
                        [(
                            "insert staged",
                            m.group(2),
                            self._active_txn.txn_id,
                            sid,
                        )],
                        "operation string, table string, txn_id string, "
                        "staged_id string",
                    )
                snap = t.append(src)
                op = "insert"
            else:
                snap = overwrite_partitions(t, src)
                op = "insert overwrite"
            return self.spark.createDataFrame(
                [(op, m.group(2),
                  t.current_version() if snap is None else snap.version)],
                "operation string, table string, version long",
            )
        m = _DML_TRUNCATE.match(query)
        if m:
            from .dml import truncate_table

            t = self.load_table(m.group(1))
            snap = truncate_table(t)
            return self.spark.createDataFrame(
                [("truncate", m.group(1), snap.version)],
                "operation string, table string, version long",
            )
        m = _DML_OPTIMIZE.match(query)
        if m:
            from .maintenance import compact

            t = self.load_table(m.group("ident"))
            zorder = (
                [c.strip() for c in m.group("zorder").split(",")]
                if m.group("zorder")
                else None
            )
            snap = compact(
                t,
                zorder_by=zorder,
                partition_where=m.group("where"),
            )
            return self.spark.createDataFrame(
                [
                    (
                        "optimize",
                        m.group("ident"),
                        t.current_version(),
                        int(snap.summary["compacted_files"]) if snap else 0,
                    )
                ],
                "operation string, table string, version long, "
                "compacted_files long",
            )
        m = _DML_VACUUM.match(query)
        if m:
            from .maintenance import expire_snapshots

            t = self.load_table(m.group(1))
            older = (
                int(time.time() * 1000) - int(m.group(2)) * 3600_000
                if m.group(2)
                else None
            )
            dry = m.group(3) is not None
            res = expire_snapshots(t, older_than_ms=older, dry_run=dry)
            return self.spark.createDataFrame(
                [
                    (
                        "vacuum (dry run)" if dry else "vacuum",
                        m.group(1),
                        int(res.get("expired_snapshots", 0)),
                        int(res.get("deleted_files", 0)),
                    )
                ],
                "operation string, table string, expired_snapshots long, "
                "deleted_files long",
            )
        m = _META_AGG_SELECT.match(query)
        if m:
            fast = self._metadata_agg_fast_path(
                m.group("items"), m.group("ref")
            )
            if fast is not None:
                return fast
            # the fast path accepts the dotted identifier form (like
            # the DML verbs); when metadata refuses, keep that form
            # working by rewriting the ref to its registered view name
            # before the scan fallback
            ref = m.group("ref")
            if "." in ref and self.table_exists(ref):
                query = (
                    query[: m.start("ref")]
                    + self.view_name(ref)
                    + query[m.end("ref") :]
                )
        self.register_views()
        self._register_stored_views()
        return self.spark.sql(query)

    @staticmethod
    def _copy_fingerprint(path: str) -> str:
        """Content fingerprint for COPY INTO keying: size + sha256 of
        the WHOLE file (a head+tail-only hash would miss a same-size
        edit confined to a middle row group whose min/max stats don't
        move). A ``touch`` or a byte-identical atomic-rename rewrite
        keeps the fingerprint. Cost discipline: callers only compute
        this for files whose (mtime_ns, size) is not already in the
        ledger's stat cache, so a steady-state no-op re-run is
        stat-only; full hashing happens once per genuinely new or
        modified file - the same bytes COPY is about to read anyway."""
        import hashlib

        size = os.path.getsize(path)
        h = hashlib.sha256()
        with open(path, "rb") as fh:
            while True:
                chunk = fh.read(1 << 20)
                if not chunk:
                    break
                h.update(chunk)
        return f"{size}-{h.hexdigest()[:16]}"

    def _sql_copy_into(self, ident: str, src: str) -> DataFrame:
        """Delta's ``COPY INTO t FROM '<path>'``: load every parquet
        file under the path into the table, skipping files loaded by a
        PRIOR COPY INTO - re-running after new files land loads only
        the delta, re-running unchanged is a zero-commit no-op (the
        idempotent bulk-ingest verb; the reference's pipeline gets the
        same property from its ingest ledger, S11).

        Ledger discipline: the loaded-file map lives in the table
        property ``copy.ledger`` AND in each copy commit's summary;
        reads reconcile the union, so a crash between the commit and
        the property write cannot double-load while the copy snapshot
        is retained (after both the property write fails AND the copy
        snapshot expires - a doubly-unlikely window - the file would
        reload; size the expiry retention floor above the COPY cadence).
        Files are keyed by (path, content fingerprint): a ``touch`` or
        a byte-identical rewrite is skipped, a content rewrite at the
        same path reloads and REPLACES the path's entry, so the ledger
        holds at most one entry per path ever seen (Delta's path-only
        ledger, hardened with a fingerprint). A moved/renamed file is a
        new path and reloads - same as Delta; dedup across renames
        needs content-addressed ingest, not a COPY verb."""
        import glob as _glob

        t = self.load_table(ident)
        root = os.path.abspath(src)
        if os.path.isdir(root):
            # isfile filter: a Spark-written DATASET directory named
            # day1.parquet matches the glob alongside its own part
            # files - loading both would silently duplicate every row
            paths = sorted(
                p
                for p in _glob.glob(
                    os.path.join(root, "**", "*.parquet"), recursive=True
                )
                if os.path.isfile(p)
            )
        elif os.path.isfile(root):
            paths = [root]
        else:
            raise ValueError(f"COPY INTO source not found: {src}")
        stats = {p: os.stat(p) for p in paths}
        fps: dict[str, str] = {}

        def _fp(p: str) -> str:  # full-file hash, computed at most once
            if p not in fps:
                fps[p] = self._copy_fingerprint(p)
            return fps[p]

        raw = json.loads(t.properties().get("copy.ledger", "{}"))
        ledger: dict[str, str] = dict(raw.get("fp", {}))
        mtimes: dict[str, int] = dict(raw.get("mt", {}))
        for s in t.snapshots():  # reconcile a crashed property write
            for k in s.summary.get("copied_file_keys", []):
                p, fp = k.split("::fp::", 1)
                ledger[p] = fp

        refreshed: list[str] = []

        def _loaded(p: str) -> bool:
            st = stats[p]
            # stat fast path: (path, mtime_ns) unchanged since the run
            # that loaded it - a steady-state no-op re-scan of 10k
            # files does 10k stats and ZERO hashing
            if p in ledger and mtimes.get(p) == st.st_mtime_ns:
                return True
            if ledger.get(p) == _fp(p):
                # touched / byte-identical rewrite: refresh the stat
                # cache so the NEXT run takes the stat fast path
                mtimes[p] = st.st_mtime_ns
                refreshed.append(p)
                return True
            return False

        def _persist_ledger() -> None:
            payload: dict = {"fp": ledger}
            mt = {p: v for p, v in mtimes.items() if p in ledger}
            if mt:
                payload["mt"] = mt
            t.set_properties(**{"copy.ledger": json.dumps(payload)})

        new_paths = sorted(p for p in stats if not _loaded(p))
        if not new_paths:
            if refreshed:
                # a touched-but-byte-identical file was re-hashed this
                # run; persist the refreshed stat cache NOW (property
                # write, commit-free) so steady-state reruns never
                # re-hash it again (ADVICE r9)
                _persist_ledger()
            return self.spark.createDataFrame(
                [("copy", ident, 0, t.current_version())],
                "operation string, table string, loaded_files long, "
                "version long",
            )
        new_keys = [f"{p}::fp::{_fp(p)}" for p in new_paths]
        df = self.spark.read.parquet(*new_paths)
        snap = t.append(
            df,
            extra_summary={"copied_file_keys": new_keys},
        )
        for p in new_paths:
            ledger[p] = fps[p]
            mtimes[p] = stats[p].st_mtime_ns
        _persist_ledger()
        return self.spark.createDataFrame(
            [("copy", ident, len(new_paths), snap.version)],
            "operation string, table string, loaded_files long, "
            "version long",
        )

    def _sql_show_create(self, ident: str) -> DataFrame:
        """``SHOW CREATE TABLE``: reconstruct DDL from the current
        snapshot's schema, partition spec, and table properties (the
        engine-managed ``mv.*``/``copy.*``/``clone.*`` bookkeeping is
        omitted - it is state, not definition)."""
        t = self.load_table(ident)
        # simpleString as-is: uppercasing would mangle nested field
        # names (struct<userId:int> -> STRUCT<USERID:INT>)
        cols = ",\n  ".join(
            f"{f.name} {f.dataType.simpleString()}"
            + ("" if f.nullable else " NOT NULL")
            for f in t.schema.fields
        )
        ddl = f"CREATE TABLE {ident} (\n  {cols}\n)"
        spec = t.partition_spec
        if spec:
            parts = []
            for p in spec:
                if p.transform == "identity":
                    parts.append(p.source)
                elif p.transform == "bucket":
                    parts.append(f"bucket({p.n_buckets}, {p.source})")
                elif p.transform == "truncate":
                    parts.append(f"truncate({p.width}, {p.source})")
                else:
                    parts.append(f"{p.transform}({p.source})")
            ddl += f"\nPARTITIONED BY ({', '.join(parts)})"
        user_props = {
            k: v
            for k, v in sorted(t.properties().items())
            if not k.split(".")[0] in ("mv", "copy", "clone")
        }
        if user_props:
            kv = ", ".join(
                "'{}' = '{}'".format(
                    k.replace("'", "''"), v.replace("'", "''")
                )
                for k, v in user_props.items()
            )
            ddl += f"\nTBLPROPERTIES ({kv})"
        return self.spark.createDataFrame(
            [(ident, ddl)], "table string, create_statement string"
        )

    def _sql_show_transactions(self) -> DataFrame:
        """``SHOW TRANSACTIONS``: the coordinator log as rows - txn id,
        state (pending / committed / publishing / recovering),
        age in milliseconds (heartbeat-based for plain records,
        claim-mtime for claimed ones - the same liveness bases recovery
        uses), and the participant tables in stage order. The session's
        own OPEN transaction is listed even before its first append
        writes a record (review r13 - BEGIN alone must be visible
        here). Read-only: it never claims a record, so it is safe to
        run at any time, including inside an open transaction."""
        from .transactions import list_records

        recs = list_records(self)
        txn = self._active_txn
        if (
            txn is not None
            and txn._state == "pending"
            and txn.txn_id not in {r["id"] for r in recs}
        ):
            recs.insert(
                0,
                {
                    "id": txn.txn_id,
                    "state": "pending",
                    "age_ms": 0,
                    "participants": [
                        p["table"] for p in txn.participants
                    ],
                },
            )
        return self.spark.createDataFrame(
            [
                (
                    r["id"],
                    r["state"],
                    r["age_ms"],
                    ", ".join(r["participants"]),
                )
                for r in recs
            ],
            "txn_id string, state string, age_ms long, tables string",
        )

    @staticmethod
    def _parse_update_clause(clause: str):
        """Parse ``SET a = e1, b = e2 [WHERE pred]`` into (predicate,
        {col: Column}) - shared by the autocommit UPDATE handler and
        the transactional routing (r14)."""
        set_part, where_part = _split_on_top_level_where(clause)
        if where_part is not None and not where_part.strip():
            raise ValueError("UPDATE has a WHERE keyword but no condition")
        assignments = {}
        for part in _split_top_level(set_part):
            if "=" not in part:
                raise ValueError(
                    f"malformed SET assignment: {part.strip()!r}"
                )
            col, expr = part.split("=", 1)
            assignments[col.strip()] = F.expr(expr.strip())
        # no top-level WHERE = standard SQL: update every row
        pred = (
            F.expr(where_part.strip())
            if where_part is not None
            else F.lit(True)
        )
        return pred, assignments

    def _txn_row_dml(self, txn, query: str):
        """Route UPDATE / DELETE ... WHERE into the open transaction's
        CoW staging protocol (r14, VERDICT r13 #4): the rewrite runs
        now, visibility waits for COMMIT alongside every other
        participant. Returns the statement's result DataFrame, or None
        when the query is not a transactional row-DML form (the
        statement guard then vets it). One row-DML statement per table
        per transaction; DELETE without WHERE (truncate) stays
        refused - a metadata truncate has no staged form yet."""
        m = _DML_DELETE.match(query)
        if m:
            if m.group(2) is None:
                raise ValueError(
                    "DELETE without WHERE (truncate) cannot run inside "
                    f"the open transaction {txn.txn_id}; COMMIT or "
                    "ROLLBACK first, or give an always-true WHERE to "
                    "stage a CoW full delete"
                )
            sid = txn.delete_where(m.group(1), F.expr(m.group(2)))
            return self.spark.createDataFrame(
                [("delete staged", m.group(1), txn.txn_id, sid)],
                "operation string, table string, txn_id string, "
                "staged_id string",
            )
        m = _DML_UPDATE.match(query)
        if m:
            pred, assignments = self._parse_update_clause(m.group(2))
            sid = txn.update_where(m.group(1), pred, assignments)
            return self.spark.createDataFrame(
                [("update staged", m.group(1), txn.txn_id, sid)],
                "operation string, table string, txn_id string, "
                "staged_id string",
            )
        m = _DML_MERGE_HEAD.match(query)
        if m:
            # the full clause matrix compiles as usual; the compiled
            # merge stages under the transaction instead of committing
            return self._sql_merge(m, txn=txn)
        return None

    def _txn_statement_guard(self, query: str) -> None:
        """Inside an open BEGIN..COMMIT transaction, ``INSERT INTO ...
        SELECT`` stages (appends) and ``UPDATE`` / ``DELETE ... WHERE``
        / ``MERGE`` stage CoW replaces (r14 - routed by
        ``_txn_row_dml`` before this guard runs). Every OTHER row-mutating verb would silently
        AUTOCOMMIT outside the transaction, which is exactly the broken
        expectation BEGIN exists to prevent - refuse it loudly. Reads,
        SHOW/DESCRIBE, and DDL stay available (DDL is autocommit, as in
        Delta/Spark) - except DDL targeting this transaction's own
        participants, refused below."""
        for verb, rx in (
            ("TRUNCATE", _DML_TRUNCATE),
            ("INSERT ... REPLACE WHERE", _DML_REPLACE_WHERE_HEAD),
            ("OPTIMIZE", _DML_OPTIMIZE),
            ("RESTORE", _DML_RESTORE),
            ("COPY INTO", _DML_COPY_INTO),
            ("VACUUM", _DML_VACUUM),
        ):
            if rx.match(query):
                raise ValueError(
                    f"{verb} cannot run inside the open transaction "
                    f"{self._active_txn.txn_id}: only INSERT INTO ... "
                    "SELECT, UPDATE, and DELETE ... WHERE stage "
                    "transactionally; COMMIT or ROLLBACK first"
                )
        m = _DML_INSERT.match(query)
        if m and m.group(1).upper() == "OVERWRITE":
            raise ValueError(
                "INSERT OVERWRITE cannot run inside the open "
                f"transaction {self._active_txn.txn_id}; COMMIT or "
                "ROLLBACK first"
            )
        if _DML_CALL.match(query):
            # every system.* procedure either mutates tables
            # (retention, compaction, restore, ...) or - worse -
            # recover_transactions, which would roll back the caller's
            # OWN open transaction while the handle still thinks it is
            # pending (review r13: the subsequent COMMIT then strands a
            # committed record with no staged data)
            raise ValueError(
                "CALL procedures are autocommit maintenance and cannot "
                "run inside the open transaction "
                f"{self._active_txn.txn_id}; COMMIT or ROLLBACK first"
            )
        # DDL stays autocommit EXCEPT against this transaction's own
        # participants (ADVICE r13, verified empirically there): DROP
        # TABLE g.b after staging into g.b lets COMMIT publish g.a and
        # then hit NoSuchTableError on g.b - a half-published
        # transaction, breaking the all-or-nothing contract FROM THE
        # SAME SQL surface that advertises it. ALTER is refused on
        # participants too: a column dropped between stage and publish
        # makes the staged files lie about the schema they will land
        # under. Case-insensitive match (conservative: refusing a
        # same-spelling different-case name is safe; missing it is not).
        participants = {
            p["table"].lower() for p in self._active_txn.participants
        }
        if participants:
            for verb, rx, grp in (
                ("DROP TABLE", _DML_DROP, 2),
                ("ALTER TABLE", _DML_ALTER, 1),
            ):
                mm = rx.match(query)
                if mm and mm.group(grp).lower() in participants:
                    raise ValueError(
                        f"{verb} {mm.group(grp)} targets a participant "
                        "of the open transaction "
                        f"{self._active_txn.txn_id} (it has staged "
                        "appends awaiting publish); COMMIT or ROLLBACK "
                        "first"
                    )
            mm = _DML_CLONE.match(query)
            if mm and mm.group("dst").lower() in participants:
                raise ValueError(
                    f"CREATE TABLE {mm.group('dst')} CLONE targets a "
                    "participant of the open transaction "
                    f"{self._active_txn.txn_id}; COMMIT or ROLLBACK "
                    "first"
                )

    _CALL_PROCS = {
        "recover_transactions",
        "expire_snapshots",
        "compact",
        "rewrite_manifests",
        "rewrite_position_deletes",
        "rewrite_equality_deletes",
        "materialize_deletes",
        "cherrypick_snapshot",
        "rollback_to_snapshot",
        "fast_forward",
        "publish_branch",
        "create_branch",
        "create_tag",
        "auto_maintain",
        "apply_retention",
    }

    def _sql_call(self, proc: str, args_txt: str) -> DataFrame:
        """Iceberg's ``CALL system.<proc>(...)`` stored-procedure
        surface, mapped onto the Python maintenance/refs/branch APIs.
        Args are positional literals: ``'string'`` or integer. Each
        procedure returns one summary row so scripts can assert on the
        outcome - the same discipline as the DML verbs.

        Supported: expire_snapshots(t [, retain_last]), compact(t),
        rewrite_manifests(t), rewrite_position_deletes(t),
        rewrite_equality_deletes(t), materialize_deletes(t),
        cherrypick_snapshot(t, version), rollback_to_snapshot(t,
        version), fast_forward(t, branch [, version]), publish_branch(t,
        branch), create_branch(t, branch [, version]), create_tag(t,
        tag [, version]), auto_maintain(t), apply_retention(t);
        catalog-level: recover_transactions([grace_ms])."""
        if proc not in self._CALL_PROCS:
            raise ValueError(
                f"unknown procedure system.{proc}; supported: "
                f"{sorted(self._CALL_PROCS)}"
            )
        args: list[object] = []
        for part in _split_top_level(args_txt):
            part = part.strip()
            if not part:
                continue
            if part.startswith("'") and part.endswith("'"):
                args.append(part[1:-1])
            elif re.fullmatch(r"-?\d+", part):
                args.append(int(part))
            else:
                raise ValueError(
                    f"CALL args must be 'string' or integer literals, "
                    f"got {part!r}"
                )
        if proc == "recover_transactions":
            # catalog-level, not table-level: crash recovery over the
            # transaction log (r13, VERDICT r12 #4). Optional integer
            # grace_ms; returns one row per touched transaction.
            from .transactions import recover_transactions

            if len(args) > 1 or (
                args and (not isinstance(args[0], int) or args[0] < 0)
            ):
                # negative grace would make every LIVE pending record
                # look stale and roll back in-flight transactions - the
                # exact invariant the grace window protects (review r13)
                raise ValueError(
                    "system.recover_transactions takes at most one "
                    "non-negative integer grace_ms argument"
                )
            rep = (
                recover_transactions(self, grace_ms=int(args[0]))
                if args
                else recover_transactions(self)
            )
            return self.spark.createDataFrame(
                sorted(rep.items()), "txn_id string, outcome string"
            )
        if not args or not isinstance(args[0], str):
            raise ValueError(
                f"system.{proc} takes the table identifier first"
            )
        t = self.load_table(str(args[0]))
        rest = args[1:]
        # arity checks up front: a missing required arg must fail as a
        # descriptive ValueError like every other malformed statement
        # on this surface, not an IndexError from rest[i]
        _REQUIRED = {
            "cherrypick_snapshot": ("version", int),
            "rollback_to_snapshot": ("version", int),
            "fast_forward": ("branch name", str),
            "publish_branch": ("branch name", str),
            "create_branch": ("branch name", str),
            "create_tag": ("tag name", str),
        }
        if proc in _REQUIRED:
            what, typ = _REQUIRED[proc]
            if not rest or not isinstance(rest[0], typ):
                raise ValueError(
                    f"system.{proc} wants a {what} "
                    f"({'integer' if typ is int else 'quoted string'}) "
                    "after the table identifier"
                )
        for extra in rest[1:] if proc in _REQUIRED else rest:
            if not isinstance(extra, int):
                raise ValueError(
                    f"system.{proc}: trailing arguments must be "
                    f"integers, got {extra!r}"
                )

        def row(**kv) -> DataFrame:
            schema = ", ".join(
                f"{k} {'string' if isinstance(v, str) else 'long'}"
                for k, v in kv.items()
            )
            return self.spark.createDataFrame([tuple(kv.values())], schema)

        from . import maintenance as M

        if proc == "expire_snapshots":
            # retention policy resolves from table properties (the
            # documented path); the optional arg overrides retain_last
            res = M.expire_snapshots(
                t, retain_last=int(rest[0]) if rest else None
            )
            return row(
                operation=proc,
                expired_snapshots=int(res["expired_snapshots"]),
                deleted_files=int(res["deleted_files"]),
            )
        if proc == "compact":
            snap = M.compact(t)
            return row(
                operation=proc,
                version=t.current_version(),
                compacted_files=(
                    int(snap.summary.get("compacted_files", 0))
                    if snap
                    else 0
                ),
            )
        if proc == "rewrite_manifests":
            res = M.rewrite_manifests(t)
            return row(
                operation=proc,
                manifests_before=int(res.get("manifests_before", 0)),
                manifests_after=int(res.get("manifests_after", 0)),
            )
        if proc in (
            "rewrite_position_deletes",
            "rewrite_equality_deletes",
            "materialize_deletes",
            # row-level TTL from the table's own properties (r12); a
            # malformed policy raises with the property named, exactly
            # like the Python API - the CALL surface adds no leniency
            "apply_retention",
        ):
            snap = getattr(M, proc)(t)
            return row(
                operation=proc,
                version=t.current_version(),
                changed=1 if snap is not None else 0,
            )
        if proc == "auto_maintain":
            report = M.auto_maintain(t)
            return self.spark.createDataFrame(
                [(k, str(v)) for k, v in report.items()],
                "trigger string, outcome string",
            )
        if proc == "cherrypick_snapshot":
            snap = t.cherrypick(int(rest[0]))
            return row(operation=proc, version=snap.version)
        if proc == "rollback_to_snapshot":
            snap = t.restore_to(int(rest[0]))
            return row(operation=proc, version=snap.version)
        if proc == "fast_forward":
            v = t.fast_forward(
                str(rest[0]),
                to_version=int(rest[1]) if len(rest) > 1 else None,
            )
            return row(operation=proc, branch=str(rest[0]), version=v)
        if proc == "publish_branch":
            snap = t.publish_branch(str(rest[0]))
            return row(
                operation=proc, branch=str(rest[0]), version=snap.version
            )
        if proc == "create_branch":
            v = t.create_branch(
                str(rest[0]),
                version=int(rest[1]) if len(rest) > 1 else None,
            )
            return row(operation=proc, branch=str(rest[0]), version=v)
        # create_tag
        v = t.create_tag(
            str(rest[0]), version=int(rest[1]) if len(rest) > 1 else None
        )
        return row(operation=proc, tag=str(rest[0]), version=v)

    def _metadata_agg_fast_path(
        self, items: str, ref: str
    ) -> DataFrame | None:
        """Serve ``SELECT COUNT(*) / MIN(col) / MAX(col) FROM <table>``
        (no WHERE, no GROUP BY, one lakehouse table) from the manifest
        via :meth:`LakehouseTable.metadata_agg` - at 100 TB this is the
        query a user fires first, and it should read kilobytes of
        metadata, not the table. Output column names and types match
        what the scan path would produce (Spark's auto-aliases
        ``count(1)`` / ``min(col)`` / ``max(col)`` unless AS-aliased),
        so callers cannot observe which path answered. Returns None
        whenever the statement shape, the table reference, or exactness
        (MoR tombstones, missing/non-numeric stats) rules the fast path
        out - the caller then falls back to the real scan."""
        aggs: dict[str, tuple[str, str]] = {}
        for part in _split_top_level(items):
            im = _META_AGG_ITEM.match(part)
            if not im:
                return None
            op = im.group("op").lower()
            arg = im.group("arg")
            if (op == "count") != (arg == "*"):
                return None  # COUNT(col) / MIN(*) are scan work
            name = im.group("alias") or (
                "count(1)" if op == "count" else f"{op}({arg})"
            )
            if name in aggs:
                return None  # duplicate output names need the scan path
            aggs[name] = (op, arg)
        try:
            ident = self._resolve_table_reference(ref)
        except NoSuchTableError:
            return None  # not a lakehouse table (plain temp view etc.)
        t = self.load_table(ident)
        props = t.properties()
        if "mv.having" in props or "mv.view_agg" in props or any(
            f.name.startswith("__mv_") for f in t.schema.fields
        ):
            # a HAVING-tier MV stores UNFILTERED rows (and AVG-tier MVs
            # store partial columns) as hidden state: manifest stats
            # describe the physical table, not the view the SQL surface
            # serves - answer through the view projection instead
            return None
        try:
            return t.metadata_agg(aggs)
        except ValueError:
            return None  # e.g. unknown column: scan path raises properly

    def _resolve_table_reference(self, ref: str) -> str:
        """Map a SQL table reference to a dotted identifier: either it IS
        one (``gold.ticks``) or it is a registered view name
        (``gold_ticks``, dots replaced by underscores)."""
        if "." in ref and self.table_exists(ref):
            return ref
        for ns in self.list_namespaces():
            for ident in self.list_tables(ns):
                if self.view_name(ident) == ref:
                    return ident
        raise NoSuchTableError(ref)

    def _rewrite_time_travel(self, query: str) -> str:
        """Replace every ``<table> [FOR] VERSION|TIMESTAMP AS OF <pin>``
        reference with a snapshot-pinned temp view (registered here) so
        the surrounding statement reads that exact version. TIMESTAMP
        pins resolve through ``snapshot_as_of`` (latest snapshot at or
        before the instant; naive literals are UTC, matching the
        session timezone)."""

        def repl(m: re.Match) -> str:
            ref, kind, val = m.group(1), m.group(2).upper(), m.group(3)
            ident = self._resolve_table_reference(ref)
            t = self.load_table(ident)
            if kind == "VERSION":
                if val.isdigit():
                    version = int(val)
                else:
                    # Iceberg: VERSION AS OF also accepts a quoted ref
                    # (tag or branch) name, resolved via the ref table
                    name = val.strip("'")
                    refs = t.refs()
                    if name not in refs:
                        raise ValueError(
                            f"VERSION AS OF wants an integer version or "
                            f"a ref name; {name!r} is neither "
                            f"(refs: {sorted(refs)})"
                        )
                    if name in t.branch_names():
                        # a branch with DIVERGENT commits: its head
                        # lives in the branch chain, not at the main
                        # ref pin (which stays at the fork until
                        # publish) - serving the pin would silently
                        # hide every staged branch commit
                        bt = t.branch(name)
                        bsnap = bt.snapshot()
                        vname = (
                            f"__tt_{self.view_name(ident)}"
                            f"_br_{name}_v{bsnap.version}"
                        )
                        bt.scan(
                            snapshot=bsnap
                        ).createOrReplaceTempView(vname)
                        return vname
                    version = refs[name]
            else:
                import datetime as _dt

                raw = val.strip("'")
                try:
                    parsed = _dt.datetime.fromisoformat(raw)
                except ValueError as e:
                    raise ValueError(
                        f"TIMESTAMP AS OF wants an ISO timestamp, got {val}"
                    ) from e
                if parsed.tzinfo is None:
                    parsed = parsed.replace(tzinfo=_dt.timezone.utc)
                version = t.snapshot_as_of(
                    int(parsed.timestamp() * 1000)
                ).version
            vname = f"__tt_{self.view_name(ident)}_v{version}"
            self.create_view(ident, view_name=vname, version=version)
            return vname

        # quote-aware like the metadata-table / table_changes rewrites:
        # a literal containing "... VERSION AS OF 3" stays a literal
        return _sub_outside_quotes(_TIME_TRAVEL, repl, query)

    def clone_table(
        self,
        src_identifier: str,
        dst_identifier: str,
        version: int | None = None,
        pin_source: bool = True,
    ) -> LakehouseTable:
        """Shallow (zero-copy) clone - Delta's SHALLOW CLONE / an
        Iceberg snapshot-ref table: the clone is a NEW table whose
        first data commit references the source's data files by
        relative path. No data is copied or rewritten; at 100 TB a
        clone for a dev/test sandbox or a what-if migration costs one
        metadata commit regardless of table size.

        Semantics:
        - the clone starts at the source's current (or pinned
          ``version``) snapshot and then diverges: writes/DML/compaction
          on either side never affect the other (clone CoW rewrites land
          under the clone's own location and simply stop referencing
          source files);
        - row lineage carries over: cloned entries keep their
          ``first_row_id`` and the clone's row-id counter resumes from
          the source's, so ids stay stable across the clone;
        - the clone's orphan GC walks only ``<clone>/data`` - it can
          never delete source files (the ``add_files`` external-file
          rule);
        - ``pin_source=True`` (default) tags the cloned snapshot on the
          SOURCE (``clone-<dst>``) so source snapshot expiry cannot GC
          the files the clone references - drop the tag to release.
          With ``pin_source=False`` the caller owns that hazard (the
          documented shallow-clone contract: vacuum on the source can
          break clones).

        Refuses when the source snapshot has pending merge-on-read
        tombstones: cloned entries are re-stamped to one sequence
        number (the clone's first commit), which cannot preserve the
        delete-applicability ordering - run ``materialize_deletes`` on
        the source first."""
        st = self.load_table(src_identifier)
        snap = st.snapshot(version)
        if snap.delete_entries:
            raise ValueError(
                "clone_table: source snapshot has pending merge-on-read "
                "delete files; run maintenance.materialize_deletes on "
                "the source (or clone an older clean version) first"
            )
        if self.table_exists(dst_identifier):
            raise ValueError(f"table already exists: {dst_identifier}")
        tag_name = f"clone-{self.view_name(dst_identifier)}"
        # Clone-of-clone hazard: the source's entries may already point
        # OUTSIDE the source (a prior shallow clone or add_files import
        # resolves through '../'). Pinning only the source then leaves
        # the ORIGINAL table free to GC files this clone reads the
        # moment the intermediate clone is dropped (its pin goes with
        # it) - silent data loss. Pin EVERY distinct external root the
        # entry paths reach, at the version the source's own pin chain
        # proves still holds those files; refuse when provenance cannot
        # be established (ADVICE r7).
        st_loc = os.path.normpath(st.location)
        marker = os.sep + "data" + os.sep
        ext_roots: set[str] = set()
        for e in snap.data_entries:
            resolved = os.path.normpath(
                os.path.join(st.location, e["path"])
            )
            if resolved != st_loc and not resolved.startswith(
                st_loc + os.sep
            ):
                idx = resolved.rfind(marker)
                if idx < 0:
                    raise ValueError(
                        f"clone_table: external entry {e['path']!r} is "
                        "not under any table's data/ directory"
                    )
                ext_roots.add(resolved[:idx])
        ext_pins: list[tuple[LakehouseTable, str, int]] = []
        if pin_source and ext_roots:
            chain = [
                s
                for s in (
                    st.properties().get("clone.source") or ""
                ).split(",")
                if s
            ]
            by_loc = {
                os.path.normpath(self._table_location(ident)): ident
                for ident in chain
                if self.table_exists(ident)
            }
            st_tag = f"clone-{self.view_name(src_identifier)}"
            for root in sorted(ext_roots):
                ident = by_loc.get(root)
                if ident is None:
                    raise ValueError(
                        "clone_table: snapshot references external data "
                        f"files under {root} with no pinnable provenance "
                        "(an add_files import, or a clone whose source "
                        "pin was released); clone the owning table "
                        "directly, or pass pin_source=False and own the "
                        "source-GC hazard"
                    )
                et = self.load_table(ident)
                ver = et.refs().get(st_tag)
                if ver is None:
                    raise ValueError(
                        f"clone_table: the source's own pin tag "
                        f"{st_tag!r} on {ident} has been released, so "
                        "its external files are already unprotected; "
                        "refusing to chain-clone (pass pin_source=False "
                        "to override)"
                    )
                ext_pins.append((et, ident, ver))
        pinned: list[tuple[LakehouseTable, str]] = []
        if pin_source:
            # pin BEFORE building the clone: a snapshot expiry racing
            # this window could otherwise GC the files between our
            # manifest read and the tag
            st.create_tag(tag_name, snap.version)
            pinned.append((st, tag_name))
            for et, _ident, ver in ext_pins:
                et.create_tag(tag_name, ver)
                pinned.append((et, tag_name))
        try:
            ns = dst_identifier.rsplit(".", 1)[0]
            self.create_namespace(ns)
            t = self.create_table(
                dst_identifier,
                StructType.fromJson(snap.schema_json),
                snap.partition_spec,
            )
            entries = []
            for e in snap.data_entries:
                ne = dict(e)
                ne["path"] = os.path.relpath(
                    os.path.join(st.location, e["path"]), t.location
                )
                # one uniform sequence number for the whole cloned file
                # set (no tombstones -> relative order carries no
                # information); overwrite_manifest assigns the commit's
                # version
                ne.pop("seq", None)
                entries.append(ne)
            t.overwrite_manifest(
                entries,
                operation="clone",
                summary={
                    "cloned_from": src_identifier,
                    "source_version": snap.version,
                    "cloned_files": len(entries),
                    "cloned_rows": sum(
                        int(e.get("rows", 0)) for e in entries
                    ),
                    # resume the SOURCE's row-id counter (not the max
                    # over cloned entries): ids of source-deleted rows
                    # must not be reissued by future clone appends
                    "next_row_id": LakehouseTable._lineage_next(snap),
                },
            )
            if pin_source:
                # recorded so drop_table can release the pins with the
                # clone (a dangling tag would block source GC forever);
                # comma-joined: the source plus every pinned external
                # root (clone-of-clone chains)
                t.set_properties(
                    **{
                        "clone.source": ",".join(
                            [src_identifier]
                            + [ident for _et, ident, _v in ext_pins]
                        )
                    }
                )
        except BaseException:
            for pt, pname in pinned:
                try:
                    pt.drop_tag(pname)  # a failed clone must not pin
                except Exception:
                    pass
            raise
        return t

    def rename_table(self, from_identifier: str, to_identifier: str) -> None:
        """Catalog-level rename (Iceberg ``rename_table``): an atomic
        directory move - all snapshot metadata, manifests, refs and data
        travel with the table because every internal path is
        location-relative. The target namespace must exist; the target
        name must be free."""
        src = self._table_location(from_identifier)
        if not self._has_metadata(src):
            raise NoSuchTableError(from_identifier)
        ns, _, _ = to_identifier.rpartition(".")
        if ns:
            # renaming INTO a reserved (underscore) namespace would
            # recreate exactly the half-visible state create_namespace
            # refuses - and could pollute _transactions (review r13)
            self._check_namespace_name(ns)
        dst = self._table_location(to_identifier)
        ns_dir = os.path.dirname(dst)
        if not os.path.isdir(ns_dir):
            raise ValueError(
                f"target namespace does not exist: {to_identifier.rsplit('.', 1)[0]}"
            )
        if os.path.exists(dst):
            raise ValueError(f"table already exists: {to_identifier}")
        os.rename(src, dst)

    # -- convenience --------------------------------------------------------

    def append(self, identifier: str, df: DataFrame) -> Snapshot:
        return self.load_table(identifier).append(df)

    def read(self, identifier: str) -> DataFrame:
        return self.load_table(identifier).to_df()
