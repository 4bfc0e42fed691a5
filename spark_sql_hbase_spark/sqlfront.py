"""SQL statement router for keyed tables — the PySpark-native analogue of
the reference's plan rewrites.

The reference injects ``HBaseStrategies`` into the session state so that
``INSERT INTO`` over an HBase table becomes ``InsertIntoHBaseTable``
(``HBaseStrategies.scala:243-260`` → ``execution/InsertIntoHBaseTable.scala:
31-123``) and CTAS becomes ``CreateHBaseTableAsSelectCommand``
(``execution/CreateHBaseTableAsSelectCommand.scala:18-88``).  PySpark cannot
inject Catalyst strategies, so the same dispatch happens one level up: the
session front-end recognizes the handful of statement shapes that must hit
the keyed store — INSERT, CREATE TABLE ... USING keyed, CTAS, DROP TABLE,
ALTER TABLE ADD COLUMNS / SET TBLPROPERTIES, ALTER DATABASE SET
DBPROPERTIES, and DROP DATABASE over namespaces holding *registered keyed
tables* — and routes them through
:class:`~spark_sql_hbase_spark.sources.keyed_parquet.KeyedTableStore`; every
other statement — SELECT, SHOW, USE, EXPLAIN, and all DML over non-keyed
tables — passes through to Spark untouched, exactly as the reference keeps
the stock strategy stack for everything it doesn't override.

Read-path note: routed writes are visible to plain ``spark.sql`` because the
store registers every keyed table in the session catalog as an external
parquet table inside its namespace database (``pw.test`` resolves
dot-qualified; ``SHOW DATABASES`` / ``SHOW TABLES`` list namespaces —
reference ``HBaseSessionCatalog.scala:63-102``).

Why not ``CREATE TABLE ... USING keyedtable`` (the Python DataSource) in
the session catalog instead?  Tried: DDL works, but on ``INSERT INTO`` a
catalog-backed Python DataSource writer receives an EMPTY options map
(verified against pyspark 4.1 — ``DataSource.options`` is ``{}`` in the
catalog write path, so the writer cannot locate its storage), and the
write path would bypass row-key generation regardless.  External parquet
catalog tables (read path, full pushdown, vectorized scan) + this router
(write path, keyed semantics) cover both halves with stock Spark.

Scale: routing is string-level and driver-side O(statement length); the
data path of every routed statement is the store's range-partitioned,
key-sorted bulk write — no per-row driver work.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import ROW_KEY, TableSpec

_IDENT = r"(?:`[^`]+`|[A-Za-z_][\w]*)"
_QUALIFIED = rf"{_IDENT}(?:\s*\.\s*{_IDENT}){{0,2}}"

_INSERT_RE = re.compile(
    rf"^\s*insert\s+(?P<mode>into|overwrite)\s+(?:table\s+)?"
    rf"(?P<target>{_QUALIFIED})\s*"
    rf"(?P<cols>\((?:[^()]|`[^`]*`)*\)\s*)??"
    rf"(?P<source>\(?\s*(?:values|select|with|from|table)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_RE = re.compile(
    rf"^\s*create\s+table\s+(?P<ine>if\s+not\s+exists\s+)?"
    rf"(?P<target>{_QUALIFIED})\s*(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE_RE = re.compile(
    rf"^\s*truncate\s+table\s+(?P<target>{_QUALIFIED})\s*$",
    re.IGNORECASE,
)
_DROP_RE = re.compile(
    rf"^\s*drop\s+table\s+(?P<ie>if\s+exists\s+)?(?P<target>{_QUALIFIED})\s*$",
    re.IGNORECASE,
)
_ALTER_TABLE_RE = re.compile(
    rf"^\s*alter\s+table\s+(?P<target>{_QUALIFIED})\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_ADD_COLUMNS_RE = re.compile(
    r"^add\s+columns?\s*\((?P<body>.*)\)\s*$", re.IGNORECASE | re.DOTALL
)
_SET_TBLPROPS_RE = re.compile(
    r"^set\s+tblproperties\s*\((?P<body>.*)\)\s*$", re.IGNORECASE | re.DOTALL
)
_ALTER_DB_RE = re.compile(
    rf"^\s*alter\s+(?:database|schema|namespace)\s+(?P<ns>{_IDENT})\s+"
    r"set\s+(?:dbproperties|properties)\s*\((?P<body>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_DB_RE = re.compile(
    rf"^\s*drop\s+(?:database|schema|namespace)\s+(?P<ie>if\s+exists\s+)?"
    rf"(?P<ns>{_IDENT})\s*(?P<cascade>cascade|restrict)?\s*$",
    re.IGNORECASE,
)
_PROP_KV_RE = re.compile(r"'([^']*)'\s*=\s*'([^']*)'")
_DELETE_RE = re.compile(
    rf"^\s*delete\s+from\s+(?P<target>{_QUALIFIED})(?P<rest>\s.*)?$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    rf"^\s*update\s+(?P<target>{_QUALIFIED})\s+set\s(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_RE = re.compile(
    rf"^\s*merge\s+into\s+(?P<target>{_QUALIFIED})\s+using\s+"
    rf"(?P<src>{_QUALIFIED})\s+on\s+(?P<key>`[^`]+`|[\w:]+)\s+"
    r"when\s+matched\s+then\s+update\s+set\s+\*\s+"
    r"when\s+not\s+matched\s+then\s+insert\s+\*\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_INDEX_RE = re.compile(
    rf"^\s*create\s+index\s+(?P<ine>if\s+not\s+exists\s+)?"
    rf"(?P<idx>{_QUALIFIED})\s+on\s+(?:table\s+)?(?P<target>{_QUALIFIED})\s*"
    rf"\(\s*(?P<col>`[^`]+`|[\w:]+)\s*\)\s*"
    rf"(?:include\s*\((?P<inc>[^)]*)\)\s*)?"
    rf"(?:options\s*\((?P<opts>[^)]*)\)\s*)?$",
    re.IGNORECASE | re.DOTALL,
)
_SIMJOIN_RE = re.compile(
    rf"^\s*similarity\s+join\s+(?P<corpus>{_QUALIFIED})\s+"
    rf"with\s+(?P<queries>\(.*\)|{_QUALIFIED})\s+"
    rf"on\s+(?P<vec>`[^`]+`|[\w:]+)\s+by\s+(?P<id>`[^`]+`|[\w:]+)\s+"
    rf"top\s+(?P<k>\d+)"
    rf"(?:\s+method\s+(?P<method>[A-Za-z0-9_]+))?"
    rf"(?:\s+model\s+(?P<model>\(.*\)|{_QUALIFIED}))?"
    rf"(?:\s+books\s+(?P<books>\(.*\)|{_QUALIFIED}))?"
    rf"(?:\s+probes\s+(?P<probes>\d+))?"
    rf"(?:\s+dim\s+(?P<dim>\d+))?"
    rf"(?:\s+(?P<residual>residual))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_NEARDUP_RE = re.compile(
    rf"^\s*near\s+duplicates\s+in\s+(?P<src>\(.*\)|{_QUALIFIED})\s+"
    rf"on\s+(?P<text>`[^`]+`|[\w:]+)\s+by\s+(?P<id>`[^`]+`|[\w:]+)"
    rf"(?:\s+threshold\s+(?P<t>\d*\.\d+|\d+))?"
    rf"(?:\s+shingle\s+(?P<n>\d+))?"
    rf"(?:\s+method\s+(?P<method>[A-Za-z0-9_]+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_top_level_books(blob: str) -> tuple[str, str | None]:
    """Recover a ``MODEL (subquery) BOOKS <ref>`` pair the regex's
    greedy subquery capture swallowed into one blob: split at the
    first depth-0 ``books`` keyword outside string literals.  A blob
    with no top-level ``books`` returns ``(blob, None)`` — the word
    inside a subquery (a column named books) never splits."""
    depth, i, n = 0, 0, len(blob)
    low = blob.lower()
    while i < n:
        c = blob[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "'":
            j = blob.find("'", i + 1)
            i = n if j == -1 else j
        elif (
            depth == 0
            and low.startswith("books", i)
            and (i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_"))
            and (
                i + 5 >= n
                or not (low[i + 5].isalnum() or low[i + 5] == "_")
            )
        ):
            return blob[:i].rstrip(), blob[i + 5 :].strip()
        i += 1
    return blob, None


# scanner paging through the SQL surface (r13 VERDICT stretch): the
# reference's Scan.setLimit + withStartRow pairing at the same router
# seam as SIMILARITY JOIN — SCAN <table> PAGE <n> [AFTER '<key>'].
# The cursor literal follows the SQL-standard doubled-quote escape
# (review fix: a row key CONTAINING a quote must be expressible, or a
# SQL walk over such a table dies mid-walk with no way to resume)
_SCAN_PAGE_RE = re.compile(
    rf"^\s*scan\s+(?P<target>{_QUALIFIED})\s+page\s+(?P<n>\d+)"
    rf"(?:\s+after\s+'(?P<after>(?:[^']|'')*)')?\s*$",
    re.IGNORECASE,
)

# bare unfiltered count — the ONE select shape served from metadata
# (any WHERE/GROUP BY/second column/subquery falls through to Spark):
# SELECT COUNT(*|1) [AS alias] FROM <table>
_BARE_COUNT_RE = re.compile(
    rf"^\s*select\s+count\s*\(\s*(?:\*|1)\s*\)\s*"
    rf"(?:as\s+(?P<alias>`[^`]+`|\w+)\s*)?"
    rf"from\s+(?P<target>{_QUALIFIED})\s*$",
    re.IGNORECASE,
)
_USING_KEYED_RE = re.compile(r"\busing\s+keyed(?:table)?\b", re.IGNORECASE)
_OPTIONS_RE = re.compile(r"\boptions\s*\(", re.IGNORECASE)
_OPTION_KV_RE = re.compile(r"(\w+)\s*=\s*'([^']*)'")

def _split_at_top_level_where(s: str) -> tuple[str, str | None]:
    """Split ``s`` at its first TOP-LEVEL ``WHERE`` keyword — outside
    single quotes, backticks, and parentheses — returning
    ``(head, condition-or-None)``.  A lazy regex split is not
    quote-aware: ``UPDATE t SET a = 'x where y'`` (no WHERE clause)
    would hand the string interior to ``F.expr`` as a condition.

    A WHERE with an EMPTY condition raises: treating it as "no WHERE"
    would silently turn a malformed/truncated statement into a
    full-table DELETE/UPDATE (condition "true").

    String scanning matches Spark's lexer: both ``'...'`` and ``"..."``
    are string literals, and a backslash escapes the next character
    inside either — ``'a\\'s where b'`` is ONE literal, not a string
    ending at the escaped quote (ADVICE r6)."""
    in_str: str | None = None  # the open quote char, ' or "
    in_tick = esc = False
    depth = 0
    for i, ch in enumerate(s):
        if in_str is not None:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == in_str:
                in_str = None
        elif in_tick:
            in_tick = ch != "`"
        elif ch in "'\"":
            in_str = ch
        elif ch == "`":
            in_tick = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and ch in "wW"
            and re.match(r"where\b", s[i:], re.IGNORECASE)
            and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] in "_`'\""))
        ):
            cond = s[i + 5 :].strip()
            if not cond:
                raise ValueError(
                    "WHERE clause has no condition; omit WHERE entirely "
                    "to target every row"
                )
            return s[:i].strip(), cond
    return s.strip(), None


def _split_sql_assignments(s: str) -> list[str]:
    """Split a SET clause on top-level commas, respecting parentheses,
    single-quoted strings, and backticked identifiers — NOT the
    type-list splitter (_split_top_level_commas), whose <>-bracket
    counting corrupts any assignment containing a comparison operator.
    Backslash-escaped quotes and double-quoted literals scan the same
    way as in :func:`_split_at_top_level_where`."""
    out, depth, cur, i = [], 0, [], 0
    in_str: str | None = None
    in_tick = esc = False
    while i < len(s):
        ch = s[i]
        if in_str is not None:
            cur.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == in_str:
                in_str = None
        elif in_tick:
            cur.append(ch)
            if ch == "`":
                in_tick = False
        elif ch in "'\"":
            in_str = ch
            cur.append(ch)
        elif ch == "`":
            in_tick = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        out.append("".join(cur).strip())
    return [p for p in out if p]


def _unquote(ident: str) -> str:
    ident = ident.strip()
    return ident[1:-1] if ident.startswith("`") and ident.endswith("`") else ident


def _split_qualified(target: str, spark: SparkSession) -> tuple[str, str]:
    """``[catalog.]ns.table`` → (ns, table); bare names resolve against
    the current database (the reference's ``use pw`` flow,
    ``README.md:55``).  A leading SESSION-catalog qualifier is dropped so
    ``spark_catalog.pw.t`` routes identically to ``pw.t`` — otherwise a
    3-part target would evade keyed routing and fall through to a raw
    parquet append.  A non-session catalog qualifier is kept as part of
    the namespace, so ``othercat.pw.t`` can never shadow the keyed
    ``pw.t`` — it falls through to Spark's own catalog resolution."""
    parts = [_unquote(p) for p in re.split(r"\s*\.\s*", target.strip()) if p]
    if len(parts) == 3:
        if parts[0].lower() == "spark_catalog":
            parts = parts[1:]  # drop the session-catalog qualifier
        else:
            return f"{parts[0]}.{parts[1]}", parts[2]
    if len(parts) == 2:
        return parts[0], parts[1]
    return spark.catalog.currentDatabase(), parts[0]


def _split_top_level_commas(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "(<[":
            depth += 1
        elif ch in ")>]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [c.strip() for c in out if c.strip()]


def _parse_column_defs(body: str) -> list[tuple[str, str]]:
    cols = []
    for item in _split_top_level_commas(body):
        m = re.match(rf"^({_IDENT})\s+(.+)$", item, re.DOTALL)
        if not m:
            raise ValueError(f"cannot parse column definition: {item!r}")
        cols.append((_unquote(m.group(1)), m.group(2).strip()))
    return cols


def _extract_options(text: str) -> dict[str, str]:
    m = _OPTIONS_RE.search(text)
    if not m:
        return {}
    depth, i = 1, m.end()
    while i < len(text) and depth:
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
        i += 1
    return dict(_OPTION_KV_RE.findall(text[m.end() : i - 1]))


def _spec_from_columns(
    ns: str, name: str, cols: list[tuple[str, str]], options: dict[str, str]
) -> TableSpec:
    """Build a TableSpec from ``(column, type)`` pairs.  Columns follow the
    reference's data model: ``row_key`` plus ``cf:qualifier`` names
    (``SparkHBaseConstants.java:7-8``); a bare column name lands in the
    default family ``cf`` keeping its qualifier."""
    key_type = "string"
    families: dict[str, dict[str, str]] = {}
    for col, typ in cols:
        if col == ROW_KEY:
            key_type = typ
            continue
        cf, _, qual = col.partition(":")
        if not qual:
            cf, qual = "cf", col
        families.setdefault(cf, {})[qual] = typ
    split_keys = [s for s in options.get("split_keys", "").split(",") if s]
    return TableSpec(
        namespace=ns,
        name=name,
        key_type=key_type,
        families=families,
        generator=options.get("generator"),
        split_keys=split_keys,
        # every other OPTIONS pair is a table property (e.g. the HBase
        # CF attribute `bloomfilter 'ROW'`) — same bag TBLPROPERTIES
        # updates land in
        properties={
            k: v
            for k, v in options.items()
            if k not in ("generator", "split_keys")
        },
    )


class KeyedSqlRouter:
    """Dispatch SQL statements: keyed-table DML/DDL → store, rest → Spark."""

    def __init__(self, store):
        self.store = store
        self.spark: SparkSession = store.spark

    # -- helpers ----------------------------------------------------------
    def _is_keyed(self, ns: str, name: str) -> bool:
        return self.store.registry.exists(f"{ns}.{name}")

    def _source_df(self, source_sql: str) -> DataFrame:
        src = source_sql.strip().rstrip(";").strip()
        if re.match(r"^\(?\s*values\b", src, re.IGNORECASE):
            return self.spark.sql(f"SELECT * FROM {src}")
        return self.spark.sql(src)

    def _conform(
        self, df: DataFrame, spec: TableSpec, cols: str | None = None
    ) -> DataFrame:
        """Positional column mapping, with or without an explicit row_key
        (the reference's VALUES lists always carry the key slot, which the
        generator then overrides — ``README.md:58-66``).  An explicit
        ``(col, ...)`` list maps by the listed names instead — without it,
        a column-list INSERT would fall through to Spark's parquet append
        and silently bypass key generation and the key-sorted layout."""
        if cols:
            listed = [_unquote(c) for c in _split_top_level_commas(cols.strip()[1:-1])]
            declared = set(spec.column_names())
            unknown = [c for c in listed if c not in declared]
            if unknown:
                raise ValueError(
                    f"INSERT column(s) {unknown} not in {spec.qualified_name} "
                    f"schema {sorted(declared)}"
                )
            if len(listed) != len(df.columns):
                raise ValueError(
                    f"INSERT arity mismatch for {spec.qualified_name}: "
                    f"{len(df.columns)} values for listed columns {listed}"
                )
            return df.toDF(*listed)
        names = [f.name for f in spec.schema().fields]
        if len(df.columns) == len(names):
            return df.toDF(*names)
        if len(df.columns) == len(names) - 1:
            return df.toDF(*names[1:])
        raise ValueError(
            f"INSERT arity mismatch for {spec.qualified_name}: "
            f"{len(df.columns)} values for columns {names}"
        )

    def _catalog_shadows(self, target: str) -> bool:
        """True when a catalog relation the router did NOT create
        shadows the bare table name under Spark's resolution precedence
        (r13 review fix): the bare-name fast paths serve the relation a
        plain ``SELECT *`` would read, so they must defer to a
        same-bare-name temp view the user made themselves.  A
        non-temporary hit is the keyed table's OWN external
        registration (db == namespace), so it is not a shadow.
        Qualified ``ns.name`` references stay registry-resolved — the
        reference's ``lookupRelation`` seam — and ``global_temp.x``
        never resolves bare in Spark, so neither reaches this check."""
        bare = _unquote(target)
        if "." in bare:
            return False
        try:
            t = self.spark.catalog.getTable(bare)
        except Exception:
            return False
        return t.tableType == "TEMPORARY"

    def _rel(self, ref: str) -> DataFrame:
        """Resolve a router-form table reference — ``(subquery)`` or a
        (possibly dot-qualified) name — through Spark SQL, where keyed
        tables resolve through their catalog registration and plain
        views/tables pass straight through.  The ONE source-resolution seam shared
        by every rewriting router form (SIMILARITY JOIN, NEAR
        DUPLICATES) — review fix: inlined copies drift."""
        ref = ref.strip()
        if ref.startswith("("):
            return self.spark.sql(ref[1:-1])
        return self.spark.sql(f"SELECT * FROM {ref}")

    def _near_duplicates(self, m) -> DataFrame:
        """``NEAR DUPLICATES`` — the dedup family's SQL surface at the
        same router seam (and with the same provably-no-semantics
        contract) as ``SIMILARITY JOIN``: the statement rewrites to the
        DataFrame near-dup operators and the gate hashes against the
        operator gate's own oracle.

            NEAR DUPLICATES IN <table | (subquery)>
                ON <text_col> BY <id_col>
                [THRESHOLD <t>] [SHINGLE <n>] [METHOD MINHASH|EXACT]

        METHOD MINHASH (default) is
        :func:`~spark_sql_hbase_spark.operators.dedup.minhash_lsh_join`
        — LSH band candidates + exact Jaccard verification of
        candidates only (the 100 TB path: candidate volume, not corpus
        square).  METHOD EXACT is
        :func:`~...dedup.ngram_jaccard_join` — the inverted-index
        exact join, for when the corpus is small enough to verify
        everything.  Both return ``(id_a, id_b, jac)`` with jac
        rounded to 4 (the shared determinism law), thresholded at
        THRESHOLD (default 0.6) over SHINGLE-gram shingles (default
        3).  The source resolves through :meth:`_rel`."""
        from spark_sql_hbase_spark.operators import dedup

        src = self._rel(m.group("src"))
        id_col = _unquote(m.group("id"))
        text_col = _unquote(m.group("text"))
        threshold = float(m.group("t")) if m.group("t") else 0.6
        n = int(m.group("n")) if m.group("n") else 3
        method = (m.group("method") or "minhash").lower()
        if method == "minhash":
            return dedup.minhash_lsh_join(src, id_col, text_col, threshold, n)
        if method == "exact":
            return dedup.ngram_jaccard_join(src, id_col, text_col, threshold, n)
        raise ValueError(
            f"unknown NEAR DUPLICATES method {method.upper()}; "
            "supported: MINHASH (LSH candidates + exact verify), "
            "EXACT (inverted-index Jaccard join)"
        )

    def _similarity_join(self, m) -> DataFrame:
        """``SIMILARITY JOIN`` — SURVEY §7.2 P6's optional SQL syntax,
        implemented at the router seam (the same dispatch level as the
        reference's plan rewrites, ``HBaseStrategies.scala:243-260``)
        instead of a Catalyst parser extension: the statement rewrites
        to the DataFrame ANN operator family.

            SIMILARITY JOIN <corpus> WITH <queries | (subquery)>
                ON <vec_col> BY <id_col> TOP <k>
                [METHOD BRUTE|SQ8|IVF|PQ|IVFADC]
                [MODEL <table | (subquery)>]
                [BOOKS <table | (subquery)>]
                [PROBES <n>] [DIM <n>] [RESIDUAL]

        METHOD BRUTE (default) is :func:`~spark_sql_hbase_spark.
        operators.similarity.cosine_topk` — exact cosine, returns
        ``(query_id, neighbor_id, cos, rank)``.  METHOD SQ8 is
        :func:`~...similarity.sq8_ann_topk` — the 1-byte-code
        bandwidth tier, returns ``(query_id, neighbor_id, score,
        rank)``; DIM skips its dimension-inference scan.  METHOD IVF
        (r12 VERDICT item 4) is cell-pruned multi-probe search
        (:func:`~...similarity.assign_cells` +
        :func:`~...similarity.multiprobe_ann_topk`): MODEL names a
        REGISTERED centroid relation — a table/view with columns
        ``(cell, cv)``, e.g. one persisted by
        :func:`~...similarity.persist_ivfpq_model` — resolved through
        the same :meth:`_rel` seam as the corpus (no model DDL
        invented); PROBES sets nprobe (default 2).  The model rides a
        broadcast; cell assignment is row-local; the probed pairs
        multiply only the query side — the pinned IVF cost law.

        All three table references resolve through :meth:`_rel`;
        plain temp views and catalog tables pass straight through.  The plan is
        whatever the operator builds — broadcast query side,
        corpus-scan cost law, shuffle-free top-k window (the pinned
        ANN shapes)."""
        from spark_sql_hbase_spark.operators import similarity

        rel = self._rel
        corpus = rel(m.group("corpus"))
        queries = rel(m.group("queries"))
        id_col = _unquote(m.group("id"))
        vec_col = _unquote(m.group("vec"))
        k = int(m.group("k"))
        method = (m.group("method") or "brute").lower()
        dim = int(m.group("dim")) if m.group("dim") else None
        model_ref = m.group("model")
        books_ref = m.group("books")
        probes = m.group("probes")
        residual = m.group("residual") is not None
        if model_ref and not books_ref and model_ref.lstrip().startswith("("):
            # MODEL (subquery) BOOKS <ref>: only a parenthesized
            # subquery's greedy capture can swallow the BOOKS clause —
            # recover it at depth 0.  A bare identifier MODEL must not
            # be split (review fix: a table legitimately named `books`
            # would be mangled to an empty ref)
            model_ref, books_ref = _split_top_level_books(model_ref)
        if method not in ("ivf", "pq", "ivfadc"):
            if model_ref or probes:
                raise ValueError(
                    f"SIMILARITY JOIN method {method.upper()} takes no "
                    "MODEL/PROBES clause — those belong to METHOD IVF "
                    "MODEL <centroids> [PROBES <n>], METHOD PQ "
                    "MODEL <codebooks>, and METHOD IVFADC "
                    "MODEL <centroids> BOOKS <codebooks> [PROBES <n>]"
                )
        if method != "ivfadc":
            if books_ref:
                raise ValueError(
                    f"SIMILARITY JOIN method {method.upper()} takes no "
                    "BOOKS clause — that belongs to METHOD IVFADC "
                    "MODEL <centroids> BOOKS <codebooks>"
                )
            if residual:
                raise ValueError(
                    f"SIMILARITY JOIN method {method.upper()} takes no "
                    "RESIDUAL flag — residual quantization belongs to "
                    "METHOD IVFADC (codes over cell residuals)"
                )
        if method != "sq8" and dim is not None:
            raise ValueError(
                f"SIMILARITY JOIN method {method.upper()} takes no DIM "
                "clause — DIM skips the dimension-inference scan of "
                "METHOD SQ8 only (review fix: a silently ignored "
                "clause is worse than a refusal)"
            )
        if method == "pq" and probes:
            raise ValueError(
                "SIMILARITY JOIN METHOD PQ takes no PROBES clause — PQ "
                "has no coarse cells to probe (that is METHOD IVF); it "
                "scores every corpus code against the per-query ADC "
                "tables"
            )

        def centroid_rel(ref: str, label: str) -> DataFrame:
            model = rel(ref)
            missing = {"cell", "cv"} - set(model.columns)
            if missing:
                raise ValueError(
                    f"SIMILARITY JOIN {label} model {ref.strip()!r} lacks "
                    f"column(s) {sorted(missing)}: a centroid relation "
                    "exposes (cell, cv)"
                )
            return model.select("cell", "cv")

        def books_rel(ref: str, label: str) -> DataFrame:
            books = rel(ref)
            missing = {"s", "code", "cv"} - set(books.columns)
            if missing:
                raise ValueError(
                    f"SIMILARITY JOIN {label} model {ref.strip()!r} lacks "
                    f"column(s) {sorted(missing)}: a codebook relation "
                    "exposes (s, code, cv)"
                )
            books = books.select("s", "code", "cv")
            # Dense-code invariant (review fix): the ADC lookup indexes
            # the code-ORDERED distance table positionally
            # (element_at(tabs[s], code + 1)), so subspace ids must be
            # dense 0..m-1 and each book's codes dense 0..ksub-1 — the
            # list form asserts this (similarity.pq_encode); a
            # non-conforming user relation through the SQL seam must
            # refuse loudly, not return NULL-adc garbage top-k.  The
            # probe collects only (s, code, len(cv)) of the model-sized
            # broadcast relation — driver cost O(m·ksub), never corpus.
            shape = sorted(
                (int(r["s"]), int(r["code"]), int(r["d"]))
                for r in books.select(
                    "s", "code", F.size("cv").alias("d")
                ).collect()
            )
            by_s: dict = {}
            dims = set()
            for s_id, code, d in shape:
                by_s.setdefault(s_id, []).append(code)
                dims.add(d)
            if len(dims) > 1:
                raise ValueError(
                    f"SIMILARITY JOIN {label} model {ref.strip()!r} mixes "
                    f"subvector lengths {sorted(dims)}: every codebook "
                    "entry must quantize the same subspace width"
                )
            ksubs = {tuple(v) for v in by_s.values()}
            if sorted(by_s) != list(range(len(by_s))) or len(ksubs) != 1 or (
                next(iter(ksubs)) != tuple(range(len(next(iter(ksubs)))))
            ):
                raise ValueError(
                    f"SIMILARITY JOIN {label} model {ref.strip()!r} is not "
                    "a dense codebook: subspace ids must be 0..m-1 and "
                    "every subspace's codes 0..ksub-1 (what "
                    "persist_ivfpq_model writes) — the ADC tables are "
                    "code-indexed positionally"
                )
            return books
        if method == "brute":
            return similarity.cosine_topk(corpus, queries, id_col, vec_col, k)
        if method == "sq8":
            return similarity.sq8_ann_topk(
                corpus, queries, id_col, vec_col, k, dim=dim
            )
        if method == "ivf":
            if not model_ref:
                raise ValueError(
                    "SIMILARITY JOIN METHOD IVF needs MODEL "
                    "<centroid table | (subquery)> — a relation with "
                    "columns (cell, cv)"
                )
            cent = centroid_rel(model_ref, "IVF")
            with_cells = similarity.assign_cells(
                corpus, cent, id_col, vec_col, "cell"
            )
            return similarity.multiprobe_ann_topk(
                with_cells,
                queries,
                cent,
                id_col,
                vec_col,
                "cell",
                k=k,
                nprobe=int(probes) if probes else 2,
            )
        if method == "ivfadc":
            if not model_ref or not books_ref:
                raise ValueError(
                    "SIMILARITY JOIN METHOD IVFADC needs MODEL "
                    "<centroids> BOOKS <codebooks> — the (cell, cv) "
                    "coarse quantizer and the (s, code, cv) PQ books "
                    "persist_ivfpq_model writes"
                )
            cent = centroid_rel(model_ref, "IVFADC")
            books = books_rel(books_ref, "IVFADC")
            # RESIDUAL is IVFADC proper (Jegou et al. 2011 §IV.B):
            # codes quantize the cell residuals, and the per-probe ADC
            # tables are computed from the query's residual against
            # each probed cell — both handled by the operator pair
            enc_in = (
                similarity.residualize(corpus, cent, id_col, vec_col)
                if residual
                else similarity.assign_cells(
                    corpus, cent, id_col, vec_col, "cell"
                )
            )
            codes = similarity.pq_encode(
                enc_in, books, id_col, vec_col, extra_cols=("cell",)
            )
            return similarity.ivfadc_ann_topk(
                codes,
                queries,
                cent,
                books,
                id_col,
                vec_col,
                "cell",
                k=k,
                nprobe=int(probes) if probes else 2,
                residual=residual,
            )
        if method == "pq":
            if not model_ref:
                raise ValueError(
                    "SIMILARITY JOIN METHOD PQ needs MODEL "
                    "<codebook table | (subquery)> — a relation with "
                    "columns (s, code, cv), e.g. the books table "
                    "persist_ivfpq_model writes"
                )
            books = books_rel(model_ref, "PQ")
            codes = similarity.pq_encode(corpus, books, id_col, vec_col)
            return similarity.pq_ann_topk(
                codes, queries, books, id_col, vec_col, k=k
            )
        raise ValueError(
            f"unknown SIMILARITY JOIN method {method!r}; supported: "
            "BRUTE (exact cosine), SQ8 (scalar-quantized), "
            "IVF (cell-pruned; MODEL <centroids> [PROBES <n>]), "
            "PQ (asymmetric-distance codes; MODEL <codebooks>), "
            "IVFADC (cell-pruned ADC; MODEL <centroids> BOOKS "
            "<codebooks> [PROBES <n>] [RESIDUAL])"
        )

    def _explain_routed(self, stmt: str) -> DataFrame | None:
        """``EXPLAIN [mode] <router-served statement>`` — the reference
        inherits EXPLAIN on every statement for free because its
        strategies live INSIDE Catalyst; the router-level forms here
        (SIMILARITY JOIN, SCAN paging, the keyed bare-count fast path)
        never reach Spark's parser, so EXPLAIN must be served at the
        same seam: build the statement's ACTUAL DataFrame (the plan the
        router would execute — for the bare count that is the
        LocalTableScan fast path, not the catalog scan a passthrough
        EXPLAIN would misleadingly show) and return its plan string in
        Spark's one-column EXPLAIN shape.  Every other EXPLAIN passes
        through untouched.  Returns None when the tail is not a
        router-served form."""
        em = re.match(
            r"^\s*explain\s+(?:(?P<mode>formatted|extended|codegen|cost|"
            r"simple)\s+)?(?P<rest>.*)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not em:
            return None
        rest = em.group("rest").strip()
        routed = bool(
            _SIMJOIN_RE.match(rest)
            or _SCAN_PAGE_RE.match(rest)
            or _NEARDUP_RE.match(rest)
        )
        if not routed:
            cm = _BARE_COUNT_RE.match(rest)
            routed = bool(cm) and self._is_keyed(
                *_split_qualified(cm.group("target"), self.spark)
            )
        from spark_sql_hbase_spark.plans.pushdown import formatted_plan

        mode = (em.group("mode") or "simple").lower()
        if not routed:
            if re.match(r"^\s*(?:scan|similarity|near)\b", rest, re.IGNORECASE):
                # a router-owned form this method's check didn't match:
                # dispatch it — a malformed form raises the same GUIDED
                # grammar error plain dispatch gives (review fix: not
                # Spark's bare ParseException), and a form sql() DOES
                # accept is routable after all, so explain it rather
                # than execute-and-discard (review fix: the two checks
                # must never diverge into silent execution)
                return self.spark.createDataFrame(
                    [(formatted_plan(self.sql(rest), mode),)], "plan string"
                )
            return None
        plan = formatted_plan(self.sql(rest), mode)
        return self.spark.createDataFrame([(plan,)], "plan string")

    # -- dispatch ---------------------------------------------------------
    def sql(self, statement: str) -> DataFrame:
        stmt = statement.strip().rstrip(";").strip()

        if re.match(r"^\s*explain\b", stmt, re.IGNORECASE):
            explained = self._explain_routed(stmt)
            if explained is not None:
                return explained

        m = _INSERT_RE.match(stmt)
        if m:
            ns, name = _split_qualified(m.group("target"), self.spark)
            if self._is_keyed(ns, name):
                return self._insert(
                    ns, name, m.group("source"), m.group("mode"), m.group("cols")
                )
        elif re.match(r"^\s*insert\b", stmt, re.IGNORECASE):
            # INSERT-shaped but unparseable: if it targets a keyed table,
            # fail loudly — falling through would let Spark append raw
            # parquet to the catalog table, silently bypassing row-key
            # generation and the key-sorted layout.
            tm = re.match(
                rf"^\s*insert\s+(?:into|overwrite)\s+(?:table\s+)?"
                rf"(?P<target>{_QUALIFIED})",
                stmt,
                re.IGNORECASE,
            )
            if tm:
                ns, name = _split_qualified(tm.group("target"), self.spark)
                if self._is_keyed(ns, name):
                    raise ValueError(
                        f"unsupported INSERT form for keyed table {ns}.{name}; "
                        "use INSERT [INTO|OVERWRITE] <table> [(cols)] "
                        "VALUES (...) | SELECT ..."
                    )

        m = _CREATE_RE.match(stmt)
        if m:
            rest = m.group("rest")
            # only the DDL clause before any `AS <query>` counts — a query
            # string merely CONTAINING the words "using keyed" must not
            # hijack a stock-Spark CTAS
            as_m = re.search(
                r"\bas\b\s*(?:select|with|from|table)\b", rest, re.IGNORECASE
            )
            ddl_clause = rest[: as_m.start()] if as_m else rest
            if _USING_KEYED_RE.search(ddl_clause):
                return self._create(m)

        m = _DELETE_RE.match(stmt)
        if m:
            ns, name = _split_qualified(m.group("target"), self.spark)
            if self._is_keyed(ns, name):
                head, cond = _split_at_top_level_where(m.group("rest") or "")
                if head:
                    raise ValueError(
                        f"unsupported DELETE clause before WHERE: {head!r}"
                    )
                self.store.delete_where(f"{ns}.{name}", cond or "true")
                return self.spark.sql("SELECT 1 WHERE 1=0")

        m = _UPDATE_RE.match(stmt)
        if m:
            ns, name = _split_qualified(m.group("target"), self.spark)
            if self._is_keyed(ns, name):
                sets_clause, cond = _split_at_top_level_where(m.group("rest"))
                sets: dict[str, str] = {}
                for part in _split_sql_assignments(sets_clause):
                    k, _, v = part.partition("=")
                    if not v:
                        raise ValueError(f"bad SET clause: {part!r}")
                    sets[_unquote(k)] = v.strip()
                self.store.update_where(f"{ns}.{name}", sets, cond or "true")
                return self.spark.sql("SELECT 1 WHERE 1=0")

        m = _MERGE_RE.match(stmt)
        if m:
            ns, name = _split_qualified(m.group("target"), self.spark)
            if self._is_keyed(ns, name):
                if _unquote(m.group("key")) != ROW_KEY:
                    raise ValueError(
                        "MERGE over keyed tables supports ON row_key only"
                    )
                src_df = self.spark.table(m.group("src"))
                self.store.upsert(f"{ns}.{name}", src_df)
                return self.spark.sql("SELECT 1 WHERE 1=0")
        elif re.match(r"^\s*merge\b", stmt, re.IGNORECASE):
            tm = re.match(
                rf"^\s*merge\s+into\s+(?P<target>{_QUALIFIED})",
                stmt,
                re.IGNORECASE,
            )
            if tm:
                ns, name = _split_qualified(tm.group("target"), self.spark)
                if self._is_keyed(ns, name):
                    raise ValueError(
                        f"unsupported MERGE form for keyed table {ns}.{name}; "
                        "use MERGE INTO <t> USING <view> ON row_key "
                        "WHEN MATCHED THEN UPDATE SET * "
                        "WHEN NOT MATCHED THEN INSERT *"
                    )

        m = _BARE_COUNT_RE.match(stmt)
        if m:
            ns, name = _split_qualified(m.group("target"), self.spark)
            if self._is_keyed(ns, name) and not self._catalog_shadows(
                m.group("target")
            ):
                # stats-from-metadata discipline (reference
                # HBaseClientImpl.scala:298 serves table stats without a
                # scan): the exact row count comes from parquet footers /
                # span manifests via fast_count — zero Spark jobs, O(files)
                # driver-side, always current-generation (post-DML) exact.
                # Any filter, projection, or grouping fails this regex and
                # falls through to the ordinary resolved scan.
                n = self.store.fast_count(f"{ns}.{name}")
                alias = m.group("alias")
                col = _unquote(alias) if alias else "count(1)"
                # VALUES resolves to a LocalRelation, so the result is
                # ONE LocalTableScan — executeCollect returns it without
                # submitting any Spark job (createDataFrame would plan an
                # RDD scan, SELECT <literal> a OneRowRelation projection;
                # both pay a job on collect)
                return self.spark.sql(
                    f"VALUES (CAST({int(n)} AS BIGINT))"
                ).toDF(col)

        m = _SCAN_PAGE_RE.match(stmt)
        if m:
            ns, name = _split_qualified(m.group("target"), self.spark)
            if not self._is_keyed(ns, name):
                raise ValueError(
                    f"SCAN targets a registered keyed table; {ns}.{name} "
                    "is not one (plain relations page with ordinary "
                    "SELECT ... ORDER BY ... LIMIT)"
                )
            # the reference's scanner-paging pairing (Scan.setLimit +
            # withStartRow(lastKey, exclusive)) surfaced in SQL: the
            # next page of rows in key order strictly after the cursor
            # — key-bounded, so every page costs the same at any depth
            # (an OFFSET pager re-scans the prefix).  Pages may close
            # SHORT at a file-span boundary; resume from the returned
            # page's last row_key (quote it SQL-style: '' for ').
            after = m.group("after")
            return self.store.scan_page(
                f"{ns}.{name}",
                int(m.group("n")),
                after.replace("''", "'") if after is not None else None,
            )
        if re.match(r"^\s*scan\b", stmt, re.IGNORECASE):
            raise ValueError(
                "unsupported SCAN form; use SCAN <table> PAGE <n> "
                "[AFTER '<last row_key>']"
            )

        m = _NEARDUP_RE.match(stmt)
        if m:
            return self._near_duplicates(m)
        if re.match(r"^\s*near\b", stmt, re.IGNORECASE):
            raise ValueError(
                "unsupported NEAR DUPLICATES form; use NEAR DUPLICATES "
                "IN <table|(subquery)> ON <text_col> BY <id_col> "
                "[THRESHOLD <t>] [SHINGLE <n>] [METHOD MINHASH|EXACT]"
            )

        m = _SIMJOIN_RE.match(stmt)
        if m:
            return self._similarity_join(m)
        if re.match(r"^\s*similarity\b", stmt, re.IGNORECASE):
            raise ValueError(
                "unsupported SIMILARITY JOIN form; use SIMILARITY JOIN "
                "<corpus> WITH <queries|(subquery)> ON <vec_col> BY "
                "<id_col> TOP <k> [METHOD BRUTE|SQ8|IVF|PQ|IVFADC] "
                "[MODEL <table|(subquery)>] [BOOKS <table|(subquery)>] "
                "[PROBES <n>] [DIM <n>] [RESIDUAL]"
            )

        m = _CREATE_INDEX_RE.match(stmt)
        if m:
            ns, name = _split_qualified(m.group("target"), self.spark)
            if self._is_keyed(ns, name):
                ins, iname = _split_qualified(m.group("idx"), self.spark)
                if m.group("ine") and self._is_keyed(ins, iname):
                    return self.spark.sql("SELECT 1 WHERE 1=0")
                include = [
                    _unquote(c)
                    for c in _split_top_level_commas(m.group("inc") or "")
                    if c.strip()
                ]
                opts = dict(_OPTION_KV_RE.findall(m.group("opts") or ""))
                fps = opts.get("fixed_point_scale")
                self.store.create_covered_index(
                    f"{ns}.{name}",
                    f"{ins}.{iname}",
                    index_col=_unquote(m.group("col")),
                    include=include,
                    key_width=int(opts.get("key_width", "12")),
                    fixed_point_scale=int(fps) if fps else None,
                )
                return self.spark.sql("SELECT 1 WHERE 1=0")

        m = _TRUNCATE_RE.match(stmt)
        if m:
            ns, name = _split_qualified(m.group("target"), self.spark)
            if self._is_keyed(ns, name):
                self.store.truncate_table(f"{ns}.{name}")
                return self.spark.sql("SELECT 1 WHERE 1=0")

        m = _DROP_RE.match(stmt)
        if m:
            ns, name = _split_qualified(m.group("target"), self.spark)
            if self._is_keyed(ns, name):
                self.store.drop_table(f"{ns}.{name}")
                return self.spark.sql("SELECT 1 WHERE 1=0")  # empty result, like DDL

        m = _ALTER_TABLE_RE.match(stmt)
        if m:
            ns, name = _split_qualified(m.group("target"), self.spark)
            if self._is_keyed(ns, name):
                return self._alter_table(ns, name, m.group("rest").strip())

        m = _ALTER_DB_RE.match(stmt)
        if m:
            ns = _unquote(m.group("ns"))
            if ns in self.store.namespaces():
                self.store.alter_namespace(
                    ns, dict(_PROP_KV_RE.findall(m.group("body")))
                )
                return self.spark.sql("SELECT 1 WHERE 1=0")

        m = _DROP_DB_RE.match(stmt)
        if m:
            ns = _unquote(m.group("ns"))
            if self.store.registry.tables(ns):
                # a plain-Spark DROP DATABASE ... CASCADE would drop the
                # catalog tables while the registry and warehouse files
                # remain — route through the store so all three stay in sync
                cascade = (m.group("cascade") or "").lower() == "cascade"
                self.store.drop_namespace(ns, cascade=cascade)
                return self.spark.sql("SELECT 1 WHERE 1=0")

        return self.spark.sql(statement)

    def _alter_table(self, ns: str, name: str, rest: str) -> DataFrame:
        """ALTER TABLE over a keyed table (reference ``alterTable`` /
        ``alterTableDataSchema``, ``HBaseExternalCatalog.scala:69,72``).
        Unsupported forms fail loudly: passing them through to Spark would
        mutate the catalog parquet table and desync the registry."""
        qualified = f"{ns}.{name}"
        m = _ADD_COLUMNS_RE.match(rest)
        if m:
            cols = _parse_column_defs(m.group("body"))
            self.store.alter_table_add_columns(qualified, cols)
            return self.spark.sql("SELECT 1 WHERE 1=0")
        m = _SET_TBLPROPS_RE.match(rest)
        if m:
            self.store.alter_table_set_properties(
                qualified, dict(_PROP_KV_RE.findall(m.group("body")))
            )
            return self.spark.sql("SELECT 1 WHERE 1=0")
        raise ValueError(
            f"unsupported ALTER TABLE form for keyed table {qualified}: {rest!r}; "
            "supported: ADD COLUMNS (col type, ...) | SET TBLPROPERTIES ('k'='v', ...)"
        )

    def _insert(
        self, ns: str, name: str, source: str, mode: str, cols: str | None = None
    ) -> DataFrame:
        spec = self.store.registry.get(f"{ns}.{name}")
        df = self._conform(self._source_df(source), spec, cols)
        # SQL semantics: unlisted columns are NULL (the store's conform
        # select would otherwise fail on them; row_key is generator-filled)
        for f in spec.schema().fields:
            if f.name not in df.columns and f.name != ROW_KEY:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        self.store.insert(
            f"{ns}.{name}", df, overwrite=(mode.lower() == "overwrite")
        )
        return self.spark.sql("SELECT 1 WHERE 1=0")

    def _create(self, m: re.Match) -> DataFrame:
        ns, name = _split_qualified(m.group("target"), self.spark)
        rest = m.group("rest")
        ine = bool(m.group("ine"))

        as_m = re.search(r"\bas\b\s*(?P<query>(?:select|with|from|table)\b.*)$",
                         rest, re.IGNORECASE | re.DOTALL)
        # options come from the DDL clause ONLY — OPTIONS-like text inside
        # the CTAS query (e.g. a string literal containing
        # "options (generator='x')") must not inject into the TableSpec
        options = _extract_options(rest[: as_m.start()] if as_m else rest)
        if as_m:  # CTAS — CreateHBaseTableAsSelectCommand.scala:18-88
            query = self.spark.sql(as_m.group("query").strip())
            cols = [(f.name, f.dataType.simpleString()) for f in query.schema.fields]
            spec = _spec_from_columns(ns, name, cols, options)
            # conform bare names to the spec's cf-qualified layout (by name,
            # never position — the key column may sit anywhere)
            query = query.select(
                *[
                    F.col(f"`{c}`").alias(
                        c if (c == ROW_KEY or ":" in c) else f"cf:{c}"
                    )
                    for c in query.columns
                ]
            )
            self.store.ctas(spec, query, mode="ignore" if ine else "error")
        else:
            body_m = re.match(r"^\((?P<body>.*?)\)\s*(using|options|$)", rest,
                              re.IGNORECASE | re.DOTALL)
            if not body_m:
                raise ValueError(f"cannot parse CREATE TABLE statement: {rest!r}")
            cols = _parse_column_defs(body_m.group("body"))
            spec = _spec_from_columns(ns, name, cols, options)
            self.store.create_table(spec, ignore_if_exists=ine)
        return self.spark.sql("SELECT 1 WHERE 1=0")
