"""SQL front-end for the lakehouse DML+DDL surface — a thin PARSER
that maps the Delta-documented statement grammar (CREATE [OR REPLACE]
TABLE ... USING txlog / ALTER TABLE / MERGE INTO / INSERT INTO
[REPLACE WHERE] / INSERT OVERWRITE / UPDATE / DELETE / COPY INTO /
RESTORE / OPTIMIZE [WHERE] / VACUUM [DRY RUN] / FSCK REPAIR TABLE
[DRY RUN] / SHOW PARTITIONS / DESCRIBE HISTORY / ALTER TABLE
SET|UNSET TBLPROPERTIES / EXPLAIN SKIPPING <stmt> /
SELECT ... VERSION|TIMESTAMP AS OF)
onto the existing
:class:`~kafka_flink_harshevents_spark.sources.txlog.TxTable` methods.
Zero new semantics: every statement form is parity-tested against the
equivalent Python-API call (``tests/test_txsql.py``), and every
guarantee (OCC, CDF, identity inheritance, partition layout, clause
precedence) is the method's, not the parser's.

Reference: the relational catalog already has SQL-surface parity
(``spark.sql`` twins per entry); this closes the same gap for the
MUTATION surface the reference's K3/K4 Mongo sinks motivated
(kafkaConsumer.js:292-318) — a user can now drive the ACID table with
the exact statements Delta documents.

Grammar notes (all case-insensitive, whitespace-insensitive):

- Targets: a quoted path (``MERGE INTO '/data/t' ...``) or a name
  resolved through the ``tables`` mapping.
- Sources (MERGE ``USING``): a name from the ``sources`` mapping, a
  name Spark can resolve (temp view), or a parenthesized ``(SELECT
  ...)`` evaluated by ``spark.sql`` — pure-SELECT planning stays
  Catalyst's job; only the mutation verbs are this module's.
- MERGE ``ON``: must be the key-equality conjunction (``t.k = s.k
  [AND ...]`` covering exactly the table's key columns) — the engine's
  merge is keyed by construction; arbitrary ON expressions are
  refused with the key list in the message.
- Aliases: ``MERGE INTO t AS tgt USING src AS s`` — clause
  expressions may reference either alias; the parser rewrites them to
  the ``t.`` / ``s.`` the engine's clause evaluator defines.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from kafka_flink_harshevents_spark.sources.txlog import TxTable, _replay_log
from kafka_flink_harshevents_spark.sources.txskip import fold_range, skip_counts

__all__ = ["txsql"]


class _Scanner:
    """Tokenless scanning helpers that respect single-quoted strings,
    backticks, and parenthesis depth — enough for the DML grammar
    without a full SQL lexer."""

    @staticmethod
    def split_top(s: str, sep: str = ",") -> list[str]:
        out, depth, q, cur = [], 0, None, []
        for ch in s:
            if q:
                cur.append(ch)
                if ch == q:
                    q = None
                continue
            if ch in ("'", "`"):
                q = ch
                cur.append(ch)
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == sep and depth == 0:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        out.append("".join(cur))
        return [p.strip() for p in out if p.strip()]

    _CASE = re.compile(r"CASE(?![A-Za-z0-9_])", re.IGNORECASE)
    _END = re.compile(r"END(?![A-Za-z0-9_])", re.IGNORECASE)

    @staticmethod
    def find_kw(s: str, kw: str, start: int = 0) -> int:
        """Index of the first TOP-LEVEL occurrence of keyword phrase
        ``kw`` (spaces in ``kw`` match any whitespace run), or -1.
        ``CASE ... END`` nests like parentheses, so a ``CASE WHEN``
        inside a MERGE clause condition or SET expression never splits
        the statement's own WHEN/THEN structure."""
        pat = re.compile(
            r"(?<![A-Za-z0-9_])" + r"\s+".join(
                re.escape(w) for w in kw.split()
            ) + r"(?![A-Za-z0-9_])",
            re.IGNORECASE,
        )
        depth, case_depth, q, i = 0, 0, None, start
        boundary = True  # previous char cannot extend an identifier
        while i < len(s):
            ch = s[i]
            if q:
                if ch == q:
                    q = None
                i += 1
                boundary = True
                continue
            if ch in ("'", "`"):
                q = ch
                i += 1
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and boundary:
                if case_depth and _Scanner._END.match(s, i):
                    case_depth -= 1
                    i += 3
                    boundary = False
                    continue
                if _Scanner._CASE.match(s, i):
                    case_depth += 1
                    i += 4
                    boundary = False
                    continue
                if case_depth == 0 and pat.match(s, i):
                    return i
            boundary = not (ch.isalnum() or ch == "_")
            i += 1
        return -1


_IDENT_AT = re.compile(r"`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*)")


def _rewrite_refs(expr: str, aliases: dict[str, str]) -> str:
    """``alias.col`` → ``engine.col`` for every alias in ONE
    simultaneous pass (case-insensitive). Simultaneous matters: with
    ``MERGE INTO tbl AS a USING src AS t``, sequential per-alias
    rewrites would first turn ``a.`` into ``t.`` and then re-rewrite
    that output to ``s.`` — silently flipping target references to
    source ones. The scan is also quote-aware: alias prefixes inside
    single-quoted string literals are data, never rewritten."""
    amap = {a.lower(): to for a, to in aliases.items()}
    out: list[str] = []
    i, n = 0, len(expr)
    prev = ""  # last character emitted (identifier-adjacency guard)
    while i < n:
        ch = expr[i]
        if ch == "'":  # string literal — copy verbatim
            j = i + 1
            while j < n and expr[j] != "'":
                # backslash-escaped quote: part of the literal, not
                # its terminator (Spark accepts both '' and \')
                j += 2 if expr[j] == "\\" else 1
            out.append(expr[i:j + 1])
            i = j + 1
            prev = "'"
            continue
        if (ch == "`" or ch.isalpha() or ch == "_") and not (
            prev and (prev.isalnum() or prev in "_`.")
        ):
            m = _IDENT_AT.match(expr, i)
            if m:
                name = (m.group(1) or m.group(2)).lower()
                k = m.end()
                while k < n and expr[k] in " \t\r\n":
                    k += 1
                if k < n and expr[k] == "." and name in amap:
                    out.append(amap[name] + ".")
                    i = k + 1
                    prev = "."
                    continue
                out.append(expr[i:m.end()])
                prev = expr[m.end() - 1]
                i = m.end()
                continue
        out.append(ch)
        prev = ch
        i += 1
    return "".join(out)


def _parse_set(body: str, aliases: dict[str, str]) -> dict | None:
    """``SET a = e, b = f`` → {a: e, ...}; ``SET *`` → None."""
    body = body.strip()
    if body == "*":
        return None
    out = {}
    for item in _Scanner.split_top(body):
        # '=' is not a word — find it top-level manually
        depth, q, pos = 0, None, -1
        for j, ch in enumerate(item):
            if q:
                if ch == q:
                    q = None
                continue
            if ch in ("'", "`"):
                q = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "=" and depth == 0:
                pos = j
                break
        if pos < 0:
            raise ValueError(f"txsql: malformed SET item {item!r}")
        col = item[:pos].strip().strip("`")
        # a target-prefixed assignee (t.col) is Delta-legal — strip it
        col = re.sub(r"^[A-Za-z_][A-Za-z0-9_]*\.", "", col)
        out[col] = _rewrite_refs(item[pos + 1:].strip(), aliases)
    if not out:
        raise ValueError("txsql: empty SET list")
    return out


def _strip_stmt(sql: str) -> str:
    s = sql.strip()
    return s[:-1].rstrip() if s.endswith(";") else s


def _target_table(
    spark: SparkSession, token: str, tables: dict[str, str] | None
) -> TxTable:
    token = token.strip()
    if token.startswith("'") and token.endswith("'"):
        return TxTable(spark, token[1:-1])
    name = token.strip("`")
    if tables and name in tables:
        v = tables[name]
        return v if isinstance(v, TxTable) else TxTable(spark, v)
    raise ValueError(
        f"txsql: unknown table {name!r} — pass tables={{name: dir}} "
        "or use a quoted path"
    )


def _source_frame(
    spark: SparkSession,
    token: str,
    sources: dict | None,
    tables: dict | None = None,
) -> DataFrame:
    token = token.strip()
    if token.startswith("("):
        # inner SELECTs route through the same resolver as top-level
        # SELECT, so MERGE USING (SELECT ... FROM t VERSION AS OF n)
        # and friends time-travel like everything else
        return _parse_select(spark, token[1:-1], tables)
    name = token.strip("`")
    if sources and name in sources:
        return sources[name]
    return spark.table(name)  # temp view / catalog resolution


def _check_on_clause(
    on: str, t: TxTable, ta: str, sa: str
) -> None:
    """The engine's merge is keyed: ON must be the key-equality
    conjunction covering exactly the table's key columns."""
    keys = set(t.meta["key_cols"])
    seen = set()
    for conj in re.split(r"(?i)\s+AND\s+", on.strip()):
        m = re.fullmatch(
            r"\s*`?(\w+)`?\s*\.\s*`?(\w+)`?\s*=\s*"
            r"`?(\w+)`?\s*\.\s*`?(\w+)`?\s*",
            conj,
        )
        if not m:
            raise ValueError(
                f"txsql MERGE: ON term {conj!r} is not a plain "
                "alias.col = alias.col equality — this engine's merge "
                f"is keyed on {sorted(keys)}"
            )
        a1, c1, a2, c2 = m.groups()
        pair = {a1.lower(): c1, a2.lower(): c2}
        if set(pair) != {ta.lower(), sa.lower()} or c1 != c2:
            raise ValueError(
                f"txsql MERGE: ON term {conj!r} must equate the same "
                "column across the two aliases "
                f"({ta}.k = {sa}.k form)"
            )
        seen.add(c1)
    if seen != keys:
        raise ValueError(
            f"txsql MERGE: ON covers {sorted(seen)} but the table is "
            f"keyed on {sorted(keys)} — the conjunction must match "
            "exactly"
        )


_MERGE_HEAD = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>'[^']*'|`[^`]+`|\w+)"
    r"(?:\s+AS)?\s+(?P<ta>(?!USING\b)\w+)?\s*"
    r"USING\s+(?P<source>\((?:[^()']|'[^']*'|\([^()]*\))*\)|`[^`]+`|[\w.]+)"
    r"(?:\s+AS)?\s+(?P<sa>(?!ON\b)\w+)?\s*"
    r"ON\s+",
    re.IGNORECASE | re.DOTALL,
)


def _parse_merge(
    spark: SparkSession,
    stmt: str,
    tables: dict | None,
    sources: dict | None,
) -> int:
    m = _MERGE_HEAD.match(stmt)
    if not m:
        raise ValueError(
            "txsql: malformed MERGE INTO — expected "
            "MERGE INTO <t> [AS a] USING <s|(SELECT ...)> [AS b] "
            "ON ... WHEN ..."
        )
    t = _target_table(spark, m.group("target"), tables)
    src = _source_frame(spark, m.group("source"), sources, tables)
    ta = m.group("ta") or "t"
    sa = m.group("sa") or "s"
    if ta.lower() == sa.lower():
        raise ValueError(
            f"txsql MERGE: target and source share the alias {ta!r} — "
            "clause references would be ambiguous"
        )
    rest = stmt[m.end():]
    first_when = _Scanner.find_kw(rest, "WHEN")
    if first_when < 0:
        raise ValueError("txsql MERGE: no WHEN clause")
    on = rest[:first_when].strip()
    _check_on_clause(on, t, ta, sa)
    aliases = {ta: "t", sa: "s"}

    # split the WHEN clauses at top level
    claus_text = rest[first_when:]
    bounds = []
    i = 0
    while True:
        j = _Scanner.find_kw(claus_text, "WHEN", i)
        if j < 0:
            break
        bounds.append(j)
        i = j + 4
    chunks = [
        claus_text[a:b].strip()
        for a, b in zip(bounds, bounds[1:] + [len(claus_text)])
    ]

    matched: list[dict] = []
    not_matched: list[dict] = []
    by_source = {"action": None, "set": None, "condition": None}
    n_by_source = 0
    _KIND = re.compile(
        r"^WHEN\s+(?P<kind>NOT\s+MATCHED\s+BY\s+SOURCE"
        r"|NOT\s+MATCHED(?:\s+BY\s+TARGET)?|MATCHED)"
        r"(?![A-Za-z0-9_])",
        re.IGNORECASE,
    )
    for ch in chunks:
        cm = _KIND.match(ch)
        if not cm:
            raise ValueError(f"txsql MERGE: malformed clause {ch!r}")
        kind = re.sub(r"\s+", " ", cm.group("kind").upper())
        if kind == "NOT MATCHED BY TARGET":
            kind = "NOT MATCHED"
        # the clause's own THEN is the first TOP-LEVEL one — a CASE
        # WHEN ... THEN ... END inside the AND condition nests like
        # parentheses in find_kw, so it can never truncate the split
        tail = ch[cm.end():]
        then_at = _Scanner.find_kw(tail, "THEN")
        if then_at < 0:
            raise ValueError(f"txsql MERGE: clause without THEN {ch!r}")
        pre = tail[:then_at].strip()
        cond = None
        if pre:
            am = re.match(r"(?is)^AND\s+(.*)$", pre)
            if not am:
                raise ValueError(
                    f"txsql MERGE: malformed clause condition {pre!r} "
                    "— expected AND <predicate>"
                )
            cond = _rewrite_refs(am.group(1).strip(), aliases)
        act = tail[then_at + 4:].strip()
        if kind == "MATCHED":
            am = re.match(
                r"(?i)^(UPDATE\s+SET\s+(?P<set>.*)|DELETE)\s*$",
                act, re.DOTALL,
            )
            if not am:
                raise ValueError(
                    f"txsql MERGE: WHEN MATCHED action {act!r} must be "
                    "UPDATE SET ... or DELETE"
                )
            if act.upper().startswith("DELETE"):
                matched.append(
                    {"action": "delete", "set": None, "condition": cond}
                )
            else:
                matched.append({
                    "action": "update",
                    "set": _parse_set(am.group("set"), aliases),
                    "condition": cond,
                })
        elif kind == "NOT MATCHED BY SOURCE":
            n_by_source += 1
            if n_by_source > 1:
                raise ValueError(
                    "txsql MERGE: at most one WHEN NOT MATCHED BY "
                    "SOURCE clause (the engine's API takes one)"
                )
            if act.upper().startswith("DELETE"):
                by_source = {
                    "action": "delete", "set": None, "condition": cond,
                }
            else:
                am = re.match(
                    r"(?i)^UPDATE\s+SET\s+(?P<set>.*)$", act, re.DOTALL
                )
                if not am:
                    raise ValueError(
                        "txsql MERGE: BY SOURCE action must be DELETE "
                        "or UPDATE SET ..."
                    )
                by_source = {
                    "action": "update",
                    "set": _parse_set(am.group("set"), aliases),
                    "condition": cond,
                }
        else:  # NOT MATCHED [BY TARGET]
            im = re.match(
                r"(?i)^INSERT\s*(?:\*|\((?P<cols>[^)]*)\)\s*VALUES\s*"
                r"\((?P<vals>.*)\))\s*$",
                act, re.DOTALL,
            )
            if not im:
                raise ValueError(
                    f"txsql MERGE: WHEN NOT MATCHED action {act!r} "
                    "must be INSERT * or INSERT (cols) VALUES (exprs)"
                )
            if im.group("cols") is None:
                not_matched.append({"values": None, "condition": cond})
            else:
                cols = [
                    c.strip().strip("`")
                    for c in _Scanner.split_top(im.group("cols"))
                ]
                vals = _Scanner.split_top(im.group("vals"))
                if len(cols) != len(vals):
                    raise ValueError(
                        "txsql MERGE: INSERT column/value count "
                        f"mismatch ({len(cols)} vs {len(vals)})"
                    )
                values = {
                    c: _rewrite_refs(v, aliases)
                    for c, v in zip(cols, vals)
                }
                not_matched.append(
                    {"values": values, "condition": cond}
                )
    return t.merge_into(
        src,
        when_matched=matched or None,
        when_not_matched=not_matched or None,
        when_not_matched_by_source=by_source["action"],
        by_source_set=by_source["set"],
        by_source_condition=by_source["condition"],
    )


_COLSPEC = re.compile(
    r"(?is)^\s*`?(?P<name>\w+)`?\s+(?P<type>[A-Za-z_]+(?:\s*\([^)]*\))?"
    r"(?:\s*<[^>]*>)?)"
    r"(?:\s+GENERATED\s+(?P<gen_kind>ALWAYS|BY\s+DEFAULT)\s+AS\s+"
    r"(?:IDENTITY(?:\s*\(\s*START\s+WITH\s+(?P<start>-?\d+)"
    r"(?:\s+INCREMENT\s+BY\s+(?P<step>-?\d+))?\s*\))?"
    r"|\(\s*(?P<gexpr>.*)\s*\)))?\s*$"
)


def _parse_create(
    spark: SparkSession, stmt: str, tables: dict | None
) -> TxTable:
    """``CREATE TABLE t (col TYPE [GENERATED ...], ...) USING txlog
    LOCATION '<dir>' [PARTITIONED BY (...)] [TBLPROPERTIES (...)]`` —
    the Delta DDL shape onto :meth:`TxTable.create`. ``key_cols`` and
    ``order_col`` come from TBLPROPERTIES (this engine's tables are
    keyed by construction); the declared schema is recorded by an
    empty schema-bearing append, so streams and landing ingestion can
    start before the first data batch. Returns the TxTable."""
    m = re.match(
        r"(?is)^CREATE\s+(?P<orr>OR\s+REPLACE\s+)?TABLE\s+"
        r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
        r"(?P<t>'[^']*'|`[^`]+`|\w+)\s*"
        r"\((?P<cols>.*)\)\s*USING\s+txlog\s*(?P<rest>.*)$",
        stmt,
    )
    ctas_sel = None
    if not m:
        # CTAS form: no column list, the SELECT supplies the schema
        m = re.match(
            r"(?is)^CREATE\s+(?P<orr>OR\s+REPLACE\s+)?TABLE\s+"
            r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
            r"(?P<t>'[^']*'|`[^`]+`|\w+)\s+USING\s+txlog\s*"
            r"(?P<rest>.*)$",
            stmt,
        )
        if m:
            tail = m.group("rest")
            as_at = _Scanner.find_kw(tail, "AS")
            sel = tail[as_at + 2:].strip() if as_at >= 0 else ""
            if as_at < 0 or not re.match(r"(?is)^(SELECT|WITH)\b", sel):
                m = None
            else:
                ctas_sel = sel
                rest_override = tail[:as_at]
    if not m:
        raise ValueError(
            "txsql: malformed CREATE TABLE — expected CREATE TABLE "
            "<t> (col TYPE, ...) USING txlog [LOCATION '<dir>'] "
            "[PARTITIONED BY (...)] [TBLPROPERTIES (...)], or the "
            "CTAS form CREATE TABLE <t> USING txlog [...] AS SELECT "
            "..."
        )
    rest = rest_override if ctas_sel is not None else m.group("rest")
    loc = re.search(r"(?is)LOCATION\s+'([^']*)'", rest)
    pby = re.search(r"(?is)PARTITIONED\s+BY\s*\(([^)]*)\)", rest)
    props_m = re.search(r"(?is)TBLPROPERTIES\s*\((.*)\)", rest)
    props = _parse_options(props_m.group(1)) if props_m else {}
    tok = m.group("t").strip()
    if tok.startswith("'"):
        table_dir = tok[1:-1]
    elif loc:
        table_dir = loc.group(1)
    elif tables and tok.strip("`") in tables:
        v = tables[tok.strip("`")]
        table_dir = v if isinstance(v, str) else v.table_dir
    else:
        raise ValueError(
            "txsql CREATE TABLE: no directory — quote the target "
            "path, add LOCATION '...', or pass tables={name: dir}"
        )
    from kafka_flink_harshevents_spark.sources.txlog import (
        _list_versions,
    )

    if m.group("orr") and m.group("ine"):
        raise ValueError(
            "txsql CREATE TABLE: OR REPLACE and IF NOT EXISTS are "
            "mutually exclusive"
        )
    existing = bool(_list_versions(table_dir))
    if existing and not m.group("orr"):
        # Delta's rule: CREATE TABLE on an existing table refuses
        # unless IF NOT EXISTS (which returns it untouched — a
        # create's metadata is immutable, so re-declaring differently
        # would silently be ignored; a CTAS's AS SELECT is NOT
        # re-applied either)
        if not m.group("ine"):
            raise ValueError(
                f"txsql CREATE TABLE: {table_dir!r} already holds a "
                "transaction log — use CREATE TABLE IF NOT EXISTS to "
                "open it, or CREATE OR REPLACE TABLE to replace its "
                "contents"
            )
        return TxTable(spark, table_dir)
    if not existing and ("key_cols" not in props or "order_col" not in props):
        raise ValueError(
            "txsql CREATE TABLE: TBLPROPERTIES must carry "
            "'key_cols'='k1[,k2]' and 'order_col'='ver' — this "
            "engine's tables are keyed by construction"
        )
    schema_parts = []
    gen_cols: dict[str, str] = {}
    ident: dict[str, dict] = {}
    for item in _Scanner.split_top(
        "" if ctas_sel is not None else m.group("cols")
    ):
        cm = _COLSPEC.match(item)
        if not cm:
            raise ValueError(
                f"txsql CREATE TABLE: malformed column spec {item!r}"
            )
        name = cm.group("name")
        schema_parts.append(f"`{name}` {cm.group('type')}")
        if cm.group("gexpr"):
            gen_cols[name] = cm.group("gexpr")
        elif cm.group("gen_kind"):
            ident[name] = {
                "start": int(cm.group("start") or 1),
                "step": int(cm.group("step") or 1),
                "always": cm.group("gen_kind").upper() == "ALWAYS",
            }
    if existing:
        # CREATE OR REPLACE on a live log: replace the CONTENTS,
        # keep the log — history and time travel to pre-replace
        # versions survive, exactly Delta's rule. The keyed-table
        # contract (key_cols/order_col) and managed-column rules
        # (generated/identity) are immutable meta — a replace that
        # re-declares them differently is refused rather than
        # silently ignored. The CTAS form replaces in ONE atomic
        # predicate-scoped rewrite; the declared-columns form
        # truncates and evolves the schema additively (dropping a
        # column stays ALTER TABLE DROP COLUMN's job).
        t = TxTable(spark, table_dir)
        meta = t.meta
        if "key_cols" in props:
            want = [
                c.strip() for c in props["key_cols"].split(",")
                if c.strip()
            ]
            if want != list(meta["key_cols"]):
                raise ValueError(
                    "txsql CREATE OR REPLACE: key_cols are immutable "
                    f"— table is keyed {list(meta['key_cols'])}, "
                    f"declared {want}"
                )
        if props.get("order_col", meta["order_col"]) != meta["order_col"]:
            raise ValueError(
                "txsql CREATE OR REPLACE: order_col is immutable — "
                f"table orders by {meta['order_col']!r}"
            )
        if gen_cols and gen_cols != (meta.get("generated_cols") or {}):
            raise ValueError(
                "txsql CREATE OR REPLACE: generated columns are "
                "immutable table meta — re-declare them identically "
                "or omit them"
            )
        cur_ident = {
            k: v for k, v in (meta.get("identity_cols") or {}).items()
            if k != "_row_id"
        }
        if ident and {
            k: {kk: v[kk] for kk in ("start", "step", "always")}
            for k, v in cur_ident.items()
        } != ident:
            raise ValueError(
                "txsql CREATE OR REPLACE: identity columns are "
                "immutable table meta — re-declare them identically "
                "or omit them"
            )
        # the REST of the table contract is immutable too — refuse a
        # differing re-declaration rather than silently dropping it
        immut = {
            "n_buckets": int(meta["n_buckets"]),
            "cdf": bool(meta.get("cdf")),
            "row_tracking": bool(meta.get("row_tracking")),
            "bloom_cols": sorted(meta.get("bloom_cols") or ()),
        }
        declared = {}
        if "n_buckets" in props:
            declared["n_buckets"] = int(props["n_buckets"])
        for flag in ("cdf", "row_tracking"):
            if flag in props:
                declared[flag] = str(props[flag]).lower() == "true"
        if "bloom_cols" in props:
            declared["bloom_cols"] = sorted(
                c.strip()
                for c in props["bloom_cols"].split(",")
                if c.strip()
            )
        for k2, v2 in declared.items():
            if v2 != immut[k2]:
                raise ValueError(
                    f"txsql CREATE OR REPLACE: {k2} is immutable "
                    f"table meta — table has {immut[k2]!r}, declared "
                    f"{v2!r}; re-declare identically or omit it"
                )
        if pby:
            want_pby = [
                c.strip().strip("`")
                for c in pby.group(1).split(",")
                if c.strip()
            ]
            if want_pby != list(meta.get("partition_by") or ()):
                raise ValueError(
                    "txsql CREATE OR REPLACE: the partition layout is "
                    "immutable table meta — table is partitioned by "
                    f"{list(meta.get('partition_by') or ())}, declared "
                    f"{want_pby}"
                )
        if ctas_sel is not None:
            t.replace_where(_parse_select(spark, ctas_sel, tables), "true")
            return t
        managed = set(gen_cols) | set(ident) | {"_row_id"}
        decl = ", ".join(
            p for p in schema_parts
            if p.split("`")[1] not in managed
        )
        # schema evolution FIRST, truncate second: the evolving append
        # is where an incompatible declaration fails (type change,
        # resurrected column), and it must fail BEFORE any data is
        # deleted — a failed statement leaves the table intact with at
        # most the schema already widened. (The declared-columns form
        # is two commits by construction; the CTAS form above is the
        # one-commit atomic replace.)
        if decl:
            # additive evolution: newly declared columns join the
            # schema; pre-existing columns stay declared (dropping is
            # ALTER TABLE DROP COLUMN's job, stated above)
            t.append(spark.createDataFrame([], decl), merge_schema=True)
        t.delete_where("true")
        return t
    t = TxTable.create(
        spark,
        table_dir,
        key_cols=tuple(
            c.strip() for c in props["key_cols"].split(",") if c.strip()
        ),
        order_col=props["order_col"],
        n_buckets=int(props.get("n_buckets", 16)),
        cdf=str(props.get("cdf", "false")).lower() == "true",
        bloom_cols=tuple(
            c.strip()
            for c in props.get("bloom_cols", "").split(",")
            if c.strip()
        ),
        generated_cols=gen_cols or None,
        checkpoint_interval=int(props.get("checkpoint_interval", 10)),
        identity_cols=ident or None,
        row_tracking=str(props.get("row_tracking", "false")).lower()
        == "true",
        partition_by=tuple(
            c.strip().strip("`")
            for c in (pby.group(1).split(",") if pby else [])
            if c.strip()
        ),
    )
    # FREE properties declared at CREATE (anything the create call
    # didn't consume structurally, e.g. auto_compact_files, owner)
    # land as the first post-create commit — one statement, both
    # halves of the Delta TBLPROPERTIES surface
    free = {
        k: v for k, v in props.items()
        if k not in (
            "key_cols", "order_col", "n_buckets", "cdf", "bloom_cols",
            "checkpoint_interval", "row_tracking",
        )
    }
    if free:
        t.set_properties({
            k: int(v) if re.fullmatch(r"-?\d+", str(v)) else v
            for k, v in free.items()
        })
    if ctas_sel is not None:
        # CTAS: the SELECT supplies schema AND first data batch, one
        # ordinary append (IF NOT EXISTS on an existing table opened
        # it above — Delta's rule: the AS SELECT is NOT re-applied)
        if t.latest_version() == 1:
            t.append(_parse_select(spark, ctas_sel, tables))
        return t
    # record the declared schema (managed columns are computed at
    # write, never declared into the empty frame's schema)
    managed = set(gen_cols) | set(ident) | {"_row_id"}
    decl = ", ".join(
        p for p in schema_parts
        if p.split("`")[1] not in managed
    )
    if decl and t.latest_version() == 1:
        t.append(spark.createDataFrame([], decl))
    return t


def _parse_alter(
    spark: SparkSession, stmt: str, tables: dict | None
):
    """``ALTER TABLE t ADD CONSTRAINT name CHECK (expr) | DROP
    CONSTRAINT name | DROP COLUMN c[, ...] | RENAME COLUMN a TO b`` —
    straight onto the metadata-only methods."""
    m = re.match(
        r"(?is)^ALTER\s+TABLE\s+(?P<t>'[^']*'|`[^`]+`|\w+)\s+"
        r"(?P<act>.*)$",
        stmt,
    )
    if not m:
        raise ValueError("txsql: malformed ALTER TABLE")
    t = _target_table(spark, m.group("t"), tables)
    act = m.group("act").strip()
    am = re.match(
        r"(?is)^ADD\s+CONSTRAINT\s+`?(\w+)`?\s+CHECK\s*\((.*)\)\s*$",
        act,
    )
    if am:
        return t.add_constraint(am.group(1), am.group(2))
    am = re.match(r"(?is)^DROP\s+CONSTRAINT\s+`?(\w+)`?\s*$", act)
    if am:
        return t.drop_constraint(am.group(1))
    am = re.match(
        r"(?is)^ADD\s+COLUMNS?\s+(?:\((?P<a>.*)\)|(?P<b>.*))\s*$", act
    )
    if am:
        cols = {}
        for item in _Scanner.split_top(am.group("a") or am.group("b")):
            cm = re.match(
                r"(?is)^\s*`?(\w+)`?\s+(.+?)\s*$", item
            )
            if not cm:
                raise ValueError(
                    f"txsql ADD COLUMN: malformed spec {item!r}"
                )
            cols[cm.group(1)] = cm.group(2)
        return t.add_columns(cols)
    am = re.match(r"(?is)^DROP\s+COLUMNS?\s+(?:\((.*)\)|(.*))\s*$", act)
    if am:
        cols = tuple(
            c.strip().strip("`")
            for c in _Scanner.split_top(am.group(1) or am.group(2))
        )
        return t.drop_columns(cols)
    am = re.match(
        r"(?is)^RENAME\s+COLUMN\s+`?(\w+)`?\s+TO\s+`?(\w+)`?\s*$", act
    )
    if am:
        return t.rename_column(am.group(1), am.group(2))
    am = re.match(
        r"(?is)^SET\s+TBLPROPERTIES\s*\((?P<b>.*)\)\s*$", act
    )
    if am:
        props: dict = {}
        for item in _Scanner.split_top(am.group("b")):
            pm = re.match(
                r"(?is)^\s*'?([\w.]+)'?\s*=\s*"
                r"(?:'([^']*)'|(-?\d+))\s*$",
                item,
            )
            if not pm:
                raise ValueError(
                    f"txsql SET TBLPROPERTIES: malformed pair {item!r}"
                )
            props[pm.group(1)] = (
                pm.group(2) if pm.group(2) is not None
                else int(pm.group(3))
            )
        return t.set_properties(props)
    am = re.match(
        r"(?is)^UNSET\s+TBLPROPERTIES\s*(?:IF\s+EXISTS\s*)?"
        r"\((?P<b>.*)\)\s*$",
        act,
    )
    if am:
        return t.unset_properties(
            c.strip().strip("'`")
            for c in _Scanner.split_top(am.group("b"))
        )
    raise ValueError(
        f"txsql ALTER TABLE: unsupported action {act!r} — supported: "
        "ADD CONSTRAINT ... CHECK (...), DROP CONSTRAINT, "
        "ADD COLUMN(S), DROP COLUMN(S), RENAME COLUMN a TO b, "
        "SET TBLPROPERTIES (...), UNSET TBLPROPERTIES (...)"
    )


def _cte_names(stmt: str) -> set[str]:
    """Lower-cased names the statement's own WITH clause defines —
    a CTE shadows a same-named txlog table (spark.sql's precedence),
    so the target resolver must leave those references alone."""
    m = re.match(r"(?is)^\s*WITH\s+", stmt)
    if not m:
        return set()
    names: set[str] = set()
    i = m.end()
    while True:
        im = _IDENT_AT.match(stmt, i)
        if not im:
            break
        names.add((im.group(1) or im.group(2)).lower())
        # skip optional (cols), the AS keyword, and the CTE body
        j = _Scanner.find_kw(stmt, "AS", im.end())
        if j < 0:
            break
        k = stmt.find("(", j)
        if k < 0:
            break
        depth, q = 0, None
        while k < len(stmt):
            ch = stmt[k]
            if q:
                if ch == q:
                    q = None
            elif ch in ("'", "`"):
                q = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        # another CTE follows iff the next top-level token is a comma
        k += 1
        while k < len(stmt) and stmt[k] in " \t\r\n":
            k += 1
        if k >= len(stmt) or stmt[k] != ",":
            break
        i = k + 1
        while i < len(stmt) and stmt[i] in " \t\r\n":
            i += 1
    return names


def _literal_spans(s: str) -> list[tuple[int, int]]:
    """[start, end) spans of single-quoted string literals. Skips the
    character after a backslash — Spark also accepts
    backslash-escaped quotes (``'it\\'s'``), and treating the escaped
    quote as a terminator would desync every downstream rewrite."""
    spans, i = [], 0
    while i < len(s):
        if s[i] == "'":
            j = i + 1
            while j < len(s) and s[j] != "'":
                j += 2 if s[j] == "\\" else 1
            spans.append((i, j + 1))
            i = j + 1
        else:
            i += 1
    return spans


# Words that legitimately precede a '(' WITHOUT making it a function
# call — the paren after them is grouping, a subquery, or list syntax.
_NONFN_KEYWORDS = frozenset((
    "select", "from", "join", "where", "on", "and", "or", "not", "in",
    "exists", "union", "all", "any", "some", "as", "by", "values",
    "when", "then", "else", "case", "end", "between", "like", "over",
    "distinct", "having", "using", "intersect", "except", "lateral",
))


def _fn_arg_spans(s: str) -> list[tuple[int, int]]:
    """[start, end) spans where the INNERMOST enclosing paren frame is
    a FUNCTION CALL's argument list — there ``FROM`` is expression
    syntax (``extract(YEAR FROM ts)``, ``trim(BOTH 'x' FROM s)``),
    never a table reference, so the time-travel rewriter must not
    touch it. A paren opened after a bare SQL keyword (``FROM (``,
    ``IN (``) is grouping/subquery — unmasked — and a subquery nested
    INSIDE a call argument (``coalesce((SELECT ... FROM t), 0)``)
    unmasks its own innermost frame, so its table refs still
    rewrite."""
    spans: list[tuple[int, int]] = []
    stack: list[bool] = []
    cur: int | None = None  # start of the active masked segment
    i, q, n = 0, None, len(s)
    while i < n:
        ch = s[i]
        if q:
            if q in "'\"" and ch == "\\":
                i += 2
                continue
            if ch == q:
                q = None
            i += 1
            continue
        # double quotes are string literals in default Spark SQL — a
        # paren inside one must not open a phantom frame
        if ch in ("'", "`", '"'):
            q = ch
        elif ch == "(":
            j = i - 1
            while j >= 0 and s[j] in " \t\r\n":
                j -= 1
            is_fn = False
            if j >= 0 and (s[j].isalnum() or s[j] in "_`"):
                k = j
                while k >= 0 and (s[k].isalnum() or s[k] in "_.`"):
                    k -= 1
                word = s[k + 1:j + 1].strip("`").lower()
                is_fn = word not in _NONFN_KEYWORDS
            if cur is not None:
                spans.append((cur, i))
                cur = None
            stack.append(is_fn)
            if is_fn:
                cur = i + 1
        elif ch == ")":
            if cur is not None:
                spans.append((cur, i))
                cur = None
            if stack:
                stack.pop()
            if stack and stack[-1]:
                cur = i + 1
        i += 1
    if cur is not None:  # unclosed call — conservative: stay masked
        spans.append((cur, n))
    return spans


def _parse_tt_timestamp(tok: str) -> float:
    """TIMESTAMP AS OF operand → epoch seconds. Accepts an epoch
    number or an ISO datetime string; a NAIVE datetime is UTC (commit
    timestamps are ``time.time()``, and the session timezone is
    pinned UTC throughout this engine)."""
    tok = tok.strip()
    if tok.startswith("'") and tok.endswith("'"):
        tok = tok[1:-1]
    try:
        return float(tok)
    except ValueError:
        pass
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(tok)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


_TT_REF = re.compile(
    r"(?is)(?P<kw>\bFROM\b|\bJOIN\b)\s+"
    r"(?P<t>'[^']*'|`[^`]+`|[A-Za-z_][\w.]*)"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+(?P<ts>'[^']*'|\d+(?:\.\d+)?))?"
)

_TC_REF = re.compile(
    r"(?is)(?P<kw>\bFROM\b|\bJOIN\b)\s+table_changes\s*\(\s*"
    r"(?P<t>'[^']*'|`[^`]+`|\w+)\s*,\s*"
    r"(?P<s>\d+|'[^']*')\s*"
    r"(?:,\s*(?P<e>\d+|'[^']*')\s*)?\)"
)


_SKIP_LIT = r"(?:-?\d+(?:\.\d+)?|'(?:[^'\\]|''|\\.)*')"
_SKIP_CMP = re.compile(
    rf"(?is)^\s*(?:(?P<q>[A-Za-z_]\w*)\s*\.\s*)?`?(?P<col>\w+)`?\s*"
    rf"(?P<op><=|>=|=|<|>)\s*(?P<lit>{_SKIP_LIT})\s*$"
)
_SKIP_IN = re.compile(
    rf"(?is)^\s*(?:(?P<q>[A-Za-z_]\w*)\s*\.\s*)?`?(?P<col>\w+)`?\s+IN\s*\("
    rf"(?P<items>\s*{_SKIP_LIT}(?:\s*,\s*{_SKIP_LIT})*\s*)\)\s*$"
)
_SKIP_BETWEEN = re.compile(
    rf"(?is)^\s*(?:(?P<q>[A-Za-z_]\w*)\s*\.\s*)?`?(?P<col>\w+)`?\s+"
    rf"BETWEEN\s+(?P<lo>{_SKIP_LIT})\s+AND\s+(?P<hi>{_SKIP_LIT})\s*$"
)
_CLAUSE_KWS = (
    "GROUP BY", "HAVING", "ORDER BY", "LIMIT", "WINDOW", "QUALIFY",
    "DISTRIBUTE BY", "SORT BY", "CLUSTER BY",
)


def _skip_lit_val(tok: str):
    tok = tok.strip()
    if tok.startswith("'"):
        return tok[1:-1].replace("\\'", "'").replace("''", "'")
    return float(tok) if "." in tok else int(tok)


def _depth_at(s: str, pos: int) -> int:
    """Paren depth at ``pos`` — quote-aware (single/double/backtick,
    backslash escapes in string literals)."""
    depth, q, i = 0, None, 0
    while i < pos:
        ch = s[i]
        if q:
            if q in "'\"" and ch == "\\":
                i += 2
                continue
            if ch == q:
                q = None
        elif ch in ("'", "`", '"'):
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        i += 1
    return depth


def _top_comma_between(s: str, a: int, b: int) -> bool:
    """Any top-level comma in s[a:b)? (a comma-join partner after the
    single FROM ref would add a second relation scope)."""
    depth, q, i = 0, None, a
    while i < b:
        ch = s[i]
        if q:
            if q in "'\"" and ch == "\\":
                i += 2
                continue
            if ch == q:
                q = None
        elif ch in ("'", "`", '"'):
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            return True
        i += 1
    return False


# words that can follow a table ref without being its alias
_ALIAS_BLOCK = frozenset((
    "join", "left", "right", "full", "inner", "cross", "outer", "semi",
    "anti", "on", "where", "group", "order", "limit", "having",
    "natural", "using", "lateral", "tablesample", "union", "intersect",
    "except", "version", "timestamp", "window", "qualify",
))


def _split_conjuncts(pred: str) -> list[str]:
    """Top-level AND split (quote/paren/CASE-aware via find_kw);
    empty when a top-level OR makes conjunct attribution unsound.
    The AND that closes a ``BETWEEN lo AND hi`` belongs to the
    BETWEEN, not the conjunction — each top-level BETWEEN consumes
    the next top-level AND instead of splitting on it."""
    if _Scanner.find_kw(pred, "OR") >= 0:
        return []
    out, start, scan, pending = [], 0, 0, 0
    while True:
        p = _Scanner.find_kw(pred, "AND", scan)
        if p < 0:
            out.append(pred[start:])
            return out
        b = scan
        while True:
            b = _Scanner.find_kw(pred, "BETWEEN", b)
            if b < 0 or b >= p:
                break
            pending += 1
            b += 7
        if pending:
            pending -= 1
            scan = p + 3
            continue
        out.append(pred[start:p])
        start = scan = p + 3


def _coerce_lit(v, styp: str):
    """Literal → the COLUMN's declared type, or None when the pair is
    not safely extractable. SQL coerces a mismatched comparison
    (``bigint_col = '8'`` matches 8), but the file-skip stack compares
    raw values — a string probed against an integer bloom/min-max
    would WRONGLY skip — so extraction only happens when the literal
    already lives in the column's type family."""
    if styp in ("byte", "short", "integer", "long"):
        return v if isinstance(v, int) and not isinstance(v, bool) else None
    if styp in ("float", "double"):
        return float(v) if isinstance(v, (int, float)) else None
    if styp == "string":
        return v if isinstance(v, str) else None
    return None  # decimal/date/timestamp/bool/complex: never extract


def _conjunct_filters(
    conjuncts: list, cols: dict, quals: set, bare_ok: bool
) -> dict:
    """Fold literal conjuncts (``[qual.]col op literal`` /
    ``[qual.]col IN (literals)``) attributable via ``quals`` (or bare,
    when ``bare_ok``) into ``TxTable.read``-shaped skip kwargs.
    ``cols`` maps lower-cased column name → declared type; literals
    that don't coerce to the column's type (see ``_coerce_lit``) drop
    the WHOLE conjunct (a partial IN-list would under-approximate).
    Non-matching / non-attributable conjuncts extract nothing."""
    eq: dict = {}
    isin: dict = {}
    prune: dict = {}
    for c in conjuncts:
        try:
            cm = _SKIP_CMP.match(c)
            bm = None if cm else _SKIP_BETWEEN.match(c)
            im = None if cm or bm else _SKIP_IN.match(c)
            mm = cm or bm or im
            if not mm:
                continue
            qual = (mm.group("q") or "").lower()
            col = mm.group("col")
            if qual:
                if qual not in quals:
                    continue
            elif not bare_ok:
                continue
            styp = cols.get(col.lower())
            if styp is None:
                continue
            if cm:
                v = _coerce_lit(_skip_lit_val(cm.group("lit")), styp)
                if v is None:
                    continue
                op = cm.group("op")
                if op == "=":
                    eq[col] = v
                elif op in (">", ">="):
                    fold_range(prune, col, lo=v)
                else:
                    fold_range(prune, col, hi=v)
            elif bm:
                lo = _coerce_lit(_skip_lit_val(bm.group("lo")), styp)
                hi = _coerce_lit(_skip_lit_val(bm.group("hi")), styp)
                if lo is None or hi is None:
                    continue
                fold_range(prune, col, lo=lo, hi=hi)
            else:
                vals = [
                    _coerce_lit(_skip_lit_val(x), styp)
                    for x in re.findall(_SKIP_LIT, mm.group("items"))
                ]
                if any(v is None for v in vals):
                    continue  # partial list would under-approximate
                isin[col] = vals
        except (TypeError, ValueError):
            continue  # mixed/incomparable literal types — skip conjunct
    out = {}
    if eq:
        out["eq"] = eq
    if isin:
        out["isin"] = isin
    if prune:
        out["prune"] = prune
    return out


def _table_cols(spark, tok: str, tables: dict | None) -> dict | None:
    """Lower-cased column name → declared simple-type name (complex
    types map to ``"complex"``, which ``_coerce_lit`` never extracts)."""
    t = _target_table(spark, tok, tables)
    _, _, schema_json = t._snapshot()
    if schema_json is None:
        return None
    import json as _json

    return {
        f["name"].lower(): (
            f["type"] if isinstance(f["type"], str) else "complex"
        )
        for f in _json.loads(schema_json)["fields"]
    }


def _txlog_refs(
    stmt: str,
    spans: list,
    ctes: set,
    tables: dict | None,
    top_level: bool = False,
) -> list:
    """The statement's RESOLVABLE txlog refs (quoted path or
    tables-mapped name; literal/fn-arg spans and CTE-shadowed names
    excluded), optionally restricted to paren depth 0."""
    refs = []
    for m in _TT_REF.finditer(stmt):
        if any(a <= m.start() < b for a, b in spans):
            continue
        tok = m.group("t").strip()
        if not tok.startswith("'") and tok.strip("`").lower() in ctes:
            continue
        if tok.startswith("'") or (tables and tok.strip("`") in tables):
            if not top_level or _depth_at(stmt, m.start()) == 0:
                refs.append(m)
    return refs


def _skip_filters_by_ref(
    spark: SparkSession,
    stmt: str,
    spans: list,
    ctes: set,
    tables: dict | None,
) -> dict:
    """FILE SKIPPING for the SQL read path: map the statement's
    top-level WHERE's literal conjuncts onto ``TxTable.read``'s skip
    kwargs per txlog ref, so the NATIVE parquet scan opens only files
    the commit-log stats/blooms admit — ``SELECT ... FROM t WHERE
    k = 5`` costs O(matching files), not O(table), exactly like
    ``read(eq=...)`` (at 100 TB this is the pruned-scan discipline the
    library path already has). Works for joins too: an
    ALIAS-QUALIFIED conjunct attributes to its ref (``FROM t a JOIN s
    b ... WHERE a.k = 5`` prunes t's files); pre-filtering one side by
    a WHERE conjunct is sound under every join type because Catalyst
    still applies the full WHERE to the joined result.

    Sound by restriction — extraction happens ONLY when attribution
    is provable, and anything else extracts nothing (the statement
    still runs, just unpruned):

    - no WITH / UNION / INTERSECT / EXCEPT; exactly one top-level
      WHERE, after every ref; no top-level OR;
    - refs considered are the statement's resolvable txlog refs at
      paren depth 0; a qualifier (alias, else the bare table name)
      attributes only if it names exactly one ref;
    - BARE conjuncts attribute only in the canonical single-table
      shape (one resolvable ref, no JOIN, one top-level FROM, no
      comma-join partner before the WHERE);
    - conjuncts of the shape ``[q.]col (=|<|<=|>|>=) literal`` or
      ``[q.]col IN (literals)`` with the column in the ref's schema —
      expressions, subqueries, and column-to-column comparisons are
      left alone.

    Exact by composition: ``read``'s kwargs re-apply row-level as
    supersets of the statement's own WHERE conjuncts, which Catalyst
    applies in full afterwards. Returns ``{ref_span: kwargs}``."""
    if re.match(r"(?is)^\s*WITH\b", stmt):
        return {}
    for kw in ("UNION", "INTERSECT", "EXCEPT"):
        if _Scanner.find_kw(stmt, kw) >= 0:
            return {}
    refs = _txlog_refs(stmt, spans, ctes, tables, top_level=True)
    if not refs:
        return {}
    w = _Scanner.find_kw(stmt, "WHERE")
    if (
        w < 0
        or w < max(m.end() for m in refs)
        or _Scanner.find_kw(stmt, "WHERE", w + 1) >= 0
    ):
        return {}
    end = len(stmt)
    for kw in _CLAUSE_KWS:
        p = _Scanner.find_kw(stmt, kw, w)
        if p >= 0:
            end = min(end, p)
    conjuncts = _split_conjuncts(stmt[w + 5:end])
    if not conjuncts:
        return {}
    # qualifier → ref: the alias when present, else the bare name;
    # a qualifier naming two refs attributes to neither
    qual_refs: dict[str, list] = {}
    aliases: dict[int, str | None] = {}
    for i, m in enumerate(refs):
        nxt = stmt[m.end():w]
        am = re.match(r"(?is)\s+(?:AS\s+)?([A-Za-z_]\w*)", nxt)
        alias = am.group(1).lower() if am else None
        if alias in _ALIAS_BLOCK:
            alias = None
        aliases[i] = alias
        tok = m.group("t").strip()
        key = alias if alias else (
            None if tok.startswith("'") else tok.strip("`").lower()
        )
        if key:
            qual_refs.setdefault(key, []).append(i)
    qual_to_ref = {
        k: v[0] for k, v in qual_refs.items() if len(v) == 1
    }
    bare_ok = (
        len(refs) == 1
        and _Scanner.find_kw(stmt, "JOIN") < 0
        and refs[0].group("kw").upper() == "FROM"
        and not _top_comma_between(stmt, refs[0].end(), w)
    )
    if bare_ok:
        f1 = _Scanner.find_kw(stmt, "FROM")
        bare_ok = f1 >= 0 and _Scanner.find_kw(stmt, "FROM", f1 + 1) < 0
    out: dict = {}
    for i, m in enumerate(refs):
        cols = _table_cols(spark, m.group("t"), tables)
        if cols is None:
            continue
        quals = {
            k for k, ri in qual_to_ref.items() if ri == i
        }
        kw = _conjunct_filters(
            conjuncts, cols, quals, bare_ok and i == 0
        )
        if kw:
            out[m.span()] = kw
    return out


def _dml_prune(
    spark: SparkSession,
    tok: str,
    tables: dict | None,
    predicate: str | None,
) -> dict:
    """Log-level file skipping for DML: an UPDATE/DELETE/replaceWhere
    predicate binds to its one table by construction, so its literal
    conjuncts fold into the ``prune`` / ``eq`` / ``isin`` kwargs the
    mutation methods accept with ``read``'s meaning — the find-phase
    then skips whole files the commit-log stats, partition values and
    blooms prove unmatchable, on top of the parquet row-group pushdown
    it already does. Pure skip: the predicate itself still decides
    matches row-level, so this is exact. Nothing extractable → ``{}``."""
    if not predicate:
        return {}
    conjuncts = _split_conjuncts(predicate)
    if not conjuncts:
        return {}
    cols = _table_cols(spark, tok, tables)
    if cols is None:
        return {}
    tok = tok.strip()
    name = None if tok.startswith("'") else tok.strip("`").lower()
    return _conjunct_filters(
        conjuncts, cols, {name} if name else set(), True
    )


def _parse_select(
    spark: SparkSession, stmt: str, tables: dict | None
) -> DataFrame:
    """``SELECT ... FROM t [VERSION AS OF n | TIMESTAMP AS OF 'ts']``
    — the Delta-documented time-travel READ grammar. Pure SELECT
    planning stays Catalyst's job: this only RESOLVES each txlog
    target (a ``tables`` name or quoted path, with or without an AS
    OF clause) to the versioned snapshot frame, registers it as a
    temp view, and hands the rewritten statement to ``spark.sql``.
    Targets Spark can already resolve (temp views, catalog tables)
    pass through untouched; an AS OF clause on an unresolvable name
    is refused rather than silently dropped.

    ``FROM table_changes(<t>, <start> [, <end>])`` — Delta's CDF read
    TVF — resolves to the batch change-feed DataSource over the
    version range (one plan however long the range; the cdf_replay
    gate's IVM-consumer shape)."""
    import uuid as _uuid

    spans = _literal_spans(stmt) + _fn_arg_spans(stmt)
    ctes = _cte_names(stmt)
    views: list[str] = []

    def _fresh_view(df: DataFrame, prefix: str) -> str:
        # unique per call (concurrent txsql SELECTs share one
        # session's temp-view namespace) and dropped after planning —
        # spark.sql resolves eagerly, so the returned DataFrame keeps
        # its plan after the view goes away
        name = f"__txsql_{prefix}_{_uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(name)
        views.append(name)
        return name

    def sub_tc(m: re.Match) -> str:
        if any(a <= m.start() < b for a, b in spans):
            return m.group(0)
        t = _target_table(spark, m.group("t"), tables)
        from kafka_flink_harshevents_spark.sources.txstream import (
            TxLogStreamSource,
        )

        spark.dataSource.register(TxLogStreamSource)
        # the Python-DataSource pushdown conf is session state the
        # caller's session may lack (the r05 datasource-read crash
        # class) — (re)establish it with the registration
        spark.conf.set(
            "spark.sql.python.filterPushdown.enabled", "true"
        )
        reader = (
            spark.read.format("txlog")
            .option("tabledir", t.table_dir)
            .option("readchangefeed", "true")
        )
        s = m.group("s")
        if s.startswith("'"):
            # timestamp range start: first commit at/after the stamp
            # (the reader's own startingtimestamp semantics)
            reader = reader.option(
                "startingtimestamp", str(_parse_tt_timestamp(s))
            )
        else:
            reader = reader.option("startingversion", s)
        e = m.group("e")
        if e:
            if e.startswith("'"):
                # inclusive end: newest commit at/before the stamp
                # (the reader's own endingtimestamp semantics)
                reader = reader.option(
                    "endingtimestamp", str(_parse_tt_timestamp(e))
                )
            else:
                reader = reader.option("endingversion", e)
        return f"{m.group('kw')} {_fresh_view(reader.load(), 'tc')}"

    stmt = _TC_REF.sub(sub_tc, stmt)
    spans = _literal_spans(stmt) + _fn_arg_spans(stmt)
    # file skipping: the WHERE's literal conjuncts reach the commit
    # log's stats/blooms per ref, so the native scan opens only
    # matching files (see the helper's attribution rules)
    skip_by_span = _skip_filters_by_ref(spark, stmt, spans, ctes, tables)

    def sub(m: re.Match) -> str:
        if any(a <= m.start() < b for a, b in spans):
            return m.group(0)  # inside a string literal — data
        tok = m.group("t").strip()
        if not tok.startswith("'") and tok.strip("`").lower() in ctes:
            return m.group(0)  # the statement's own CTE shadows
        known = tok.startswith("'") or (
            tables and tok.strip("`") in tables
        )
        if not known:
            if m.group("v") or m.group("ts"):
                raise ValueError(
                    f"txsql SELECT: {tok!r} carries an AS OF clause "
                    "but is not a known txlog table — pass "
                    "tables={name: dir} or quote the table path"
                )
            return m.group(0)
        t = _target_table(spark, tok, tables)
        kw = skip_by_span.get(m.span(), {})
        if m.group("v"):
            df = t.read(version=int(m.group("v")), **kw)
        elif m.group("ts"):
            df = t.read(
                timestamp=_parse_tt_timestamp(m.group("ts")), **kw
            )
        else:
            df = t.read(**kw)
        return f"{m.group('kw')} {_fresh_view(df, 'tt')}"

    try:
        return spark.sql(_TT_REF.sub(sub, stmt))
    finally:
        for v in views:
            try:
                spark.catalog.dropTempView(v)
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass


def _parse_options(body: str) -> dict:
    out = {}
    for item in _Scanner.split_top(body):
        m = re.match(r"^\s*'?([\w.]+)'?\s*=\s*'([^']*)'\s*$", item)
        if not m:
            raise ValueError(f"txsql: malformed option {item!r}")
        out[m.group(1)] = m.group(2)
    return out


def _explain_skipping(
    spark: SparkSession,
    inner: str,
    tables: dict | None,
    sources: dict | None = None,
) -> DataFrame:
    """``EXPLAIN SKIPPING <SELECT|UPDATE|DELETE|MERGE ...>`` — the
    observability half of the file-skipping surface: WITHOUT running
    the statement, report per txlog ref how many live files the
    snapshot holds, how many the statement's extracted WHERE filters
    would actually open, and which filters were extracted (empty =
    the statement runs unpruned — the cue to rewrite the predicate
    into the literal-conjunct shapes the skipper understands). Counts
    come from ``prune_report``, i.e. the exact skip decision
    ``read``/the DML find-phase will make. For MERGE the report is
    the merge FIND-PHASE itself (``TxTable._merge_hit_files``):
    files_read = the files the merge would rewrite given this source
    (full table when a BY SOURCE clause forces the whole-table
    scope); the merge is NOT committed."""
    import json as _json

    inner = inner.strip().rstrip(";")
    h = inner.split(None, 1)[0].upper() if inner.split() else ""
    reports = []  # (table, version, skip_counts, filters)
    if h == "MERGE":
        m = _MERGE_HEAD.match(inner)
        if not m:
            raise ValueError(
                "txsql EXPLAIN SKIPPING: malformed MERGE INTO"
            )
        t = _target_table(spark, m.group("target"), tables)
        src = _source_frame(spark, m.group("source"), sources, tables)
        _, live_map, _, dvs, meta, *_ = _replay_log(t.table_dir)
        live = list(live_map.values())
        full_scan = (
            _Scanner.find_kw(inner, "NOT MATCHED BY SOURCE") >= 0
        )
        hit = live if full_scan else t._merge_hit_files(
            live, t._with_bucket(src, meta), meta
        )
        reports.append((
            m.group("target"), None, skip_counts(live, hit, dvs),
            {
                "merge_find_phase": {
                    "key_cols": list(meta["key_cols"]),
                    "by_source_full_scan": full_scan,
                }
            },
        ))
    elif h in ("SELECT", "WITH"):
        spans = _literal_spans(inner) + _fn_arg_spans(inner)
        ctes = _cte_names(inner)
        sk = _skip_filters_by_ref(spark, inner, spans, ctes, tables)
        for m in _txlog_refs(inner, spans, ctes, tables):
            t = _target_table(spark, m.group("t"), tables)
            version = int(m.group("v")) if m.group("v") else None
            if m.group("ts"):
                version = t.version_at_timestamp(
                    _parse_tt_timestamp(m.group("ts"))
                )
            kw = sk.get(m.span(), {})
            rep = t.prune_report(
                kw.get("prune") or {},
                version=version,
                eq=kw.get("eq"),
                isin=kw.get("isin"),
            )
            reports.append((m.group("t"), version, rep, kw))
    elif h in ("UPDATE", "DELETE"):
        m = re.match(
            r"(?is)^(?:UPDATE\s+|DELETE\s+FROM\s+)"
            r"(?P<t>'[^']*'|`[^`]+`|\w+)"
            r"(?:\s+SET\s+.*?)?(?:\s+WHERE\s+(?P<w>.*))?$",
            inner,
        )
        if not m:
            raise ValueError(
                "txsql EXPLAIN SKIPPING: malformed UPDATE/DELETE"
            )
        t = _target_table(spark, m.group("t"), tables)
        kw = _dml_prune(spark, m.group("t"), tables, m.group("w"))
        rep = t.prune_report(
            kw.get("prune") or {}, eq=kw.get("eq"), isin=kw.get("isin")
        )
        reports.append((m.group("t"), None, rep, kw))
    else:
        raise ValueError(
            "txsql EXPLAIN SKIPPING: expected a SELECT, UPDATE or "
            f"DELETE statement, got {h!r}"
        )
    rows = [
        (
            tok.strip().strip("`"), version,
            rep["files_total"], rep["files_read"],
            rep["files_skipped"], rep["rows_skipped"],
            _json.dumps(filters, default=str, sort_keys=True),
        )
        for tok, version, rep, filters in reports
    ]
    return spark.createDataFrame(
        rows,
        "table string, version long, files_total long, "
        "files_read long, files_skipped long, rows_skipped long, "
        "filters string",
    )


def txsql(
    spark: SparkSession,
    sql: str,
    tables: dict[str, str] | None = None,
    sources: dict[str, DataFrame] | None = None,
):
    """Execute one lakehouse DML statement. Returns the committed
    version (DML / RESTORE / OPTIMIZE), ``(version, n)`` for COPY INTO
    (files loaded) and UPDATE/DELETE (rows touched), or the reclaimed
    path list for VACUUM — each exactly what the underlying method
    returns."""
    stmt = _strip_stmt(sql)
    head = stmt.split(None, 1)[0].upper() if stmt.split() else ""
    two = " ".join(stmt.split()[:2]).upper()

    if head in ("SELECT", "WITH"):
        return _parse_select(spark, stmt, tables)

    if two == "EXPLAIN SKIPPING":
        return _explain_skipping(
            spark, stmt.split(None, 2)[2], tables, sources
        )

    if head == "CREATE":
        m = re.match(
            r"(?is)^CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
            r"(?P<d>'[^']*'|`[^`]+`|\w+)\s+SHALLOW\s+CLONE\s+"
            r"(?P<s>'[^']*'|`[^`]+`|\w+)"
            r"(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+)"
            r"|\s+TIMESTAMP\s+AS\s+OF\s+(?P<ts>'[^']*'|\d+(?:\.\d+)?))?"
            r"(?:\s+LOCATION\s+'(?P<loc>[^']*)')?\s*$",
            stmt,
        )
        if m:
            src = _target_table(spark, m.group("s"), tables)
            dtok = m.group("d").strip()
            if dtok.startswith("'"):
                dest = dtok[1:-1]
            elif m.group("loc"):
                dest = m.group("loc")
            elif tables and dtok.strip("`") in tables:
                v = tables[dtok.strip("`")]
                dest = v if isinstance(v, str) else v.table_dir
            else:
                raise ValueError(
                    "txsql SHALLOW CLONE: no destination directory — "
                    "quote the target path, add LOCATION '...', or "
                    "pass tables={name: dir}"
                )
            from kafka_flink_harshevents_spark.sources.txlog import (
                _list_versions,
            )

            if _list_versions(dest):
                # the CREATE TABLE exists-rule, clone flavor: refuse
                # unless IF NOT EXISTS, which opens the existing table
                # without re-cloning
                if not m.group("ine"):
                    raise ValueError(
                        f"txsql SHALLOW CLONE: {dest!r} already holds "
                        "a transaction log — use CREATE TABLE IF NOT "
                        "EXISTS to open it"
                    )
                return TxTable(spark, dest)
            ver = int(m.group("v")) if m.group("v") else None
            if m.group("ts"):
                ver = src.version_at_timestamp(
                    _parse_tt_timestamp(m.group("ts"))
                )
            return src.clone_to(dest, version=ver)
        return _parse_create(spark, stmt, tables)

    if head in ("DESCRIBE", "DESC") and two not in (
        "DESCRIBE HISTORY", "DESC HISTORY", "DESCRIBE DETAIL",
        "DESC DETAIL",
    ):
        m = re.match(
            r"(?is)^DESC(?:RIBE)?\s+(?:TABLE\s+)?"
            r"(?P<t>'[^']*'|`[^`]+`|\w+)\s*$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed DESCRIBE TABLE")
        t = _target_table(spark, m.group("t"), tables)
        import json as _json

        from pyspark.sql.types import StructType as _St

        _, _, schema_json = t._snapshot()
        cols = []
        if schema_json is not None:
            tgt = _St.fromJson(_json.loads(schema_json))
            cols = [
                (f.name, f.dataType.simpleString())
                for f in tgt.fields if f.name != "_bucket"
            ]
        pby = list(t.meta.get("partition_by") or ())
        if pby:
            cols.append(("# Partition Information", ""))
            cols.extend((c, "") for c in pby)
        return spark.createDataFrame(
            cols, "col_name string, data_type string"
        )

    if head == "ALTER":
        return _parse_alter(spark, stmt, tables)

    if head == "MERGE":
        return _parse_merge(spark, stmt, tables, sources)

    if two in ("INSERT INTO", "INSERT OVERWRITE"):
        overwrite = two == "INSERT OVERWRITE"
        m = re.match(
            r"(?is)^INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?"
            r"(?P<t>'[^']*'|`[^`]+`|\w+)\s*"
            r"(?:\((?!\s*SELECT\b)(?P<cols>[^()]*)\)\s*)?"
            r"(?P<rest>\S.*)$",
            stmt,
        )
        if not m:
            raise ValueError(
                "txsql: malformed INSERT — INSERT INTO <t> [(cols)] "
                "[REPLACE WHERE <pred>] <VALUES|SELECT|source>, or "
                "INSERT OVERWRITE [TABLE] <t> [(cols)] "
                "<VALUES|SELECT|source>"
            )
        rest = m.group("rest").strip()
        rw = None
        rwm = re.match(r"(?is)^REPLACE\s+WHERE\s+(?P<tail>.+)$", rest)
        if rwm:
            # Delta's predicate-scoped overwrite form. The predicate
            # runs to the first TOP-LEVEL source keyword — find_kw is
            # quote- and paren-aware, so 'VALUES (' inside a string
            # literal or a subquery's SELECT never splits it.
            if overwrite:
                raise ValueError(
                    "txsql INSERT: REPLACE WHERE belongs to the "
                    "INSERT INTO form — INSERT OVERWRITE already "
                    "replaces the whole table"
                )
            tail = rwm.group("tail")
            cuts = [
                p
                for p in (
                    _Scanner.find_kw(tail, "VALUES"),
                    _Scanner.find_kw(tail, "SELECT"),
                )
                if p >= 0
            ]
            if cuts:
                cut = min(cuts)
                rw, rest = tail[:cut].strip(), tail[cut:].strip()
            else:
                nm = re.match(
                    r"(?is)^(?P<rw>.*\S)\s+(?P<src>[\w.]+)\s*$", tail
                )
                if not nm:
                    raise ValueError(
                        "txsql INSERT REPLACE WHERE: no source after "
                        "the predicate — expected VALUES (...), "
                        "SELECT ..., or a named source"
                    )
                rw, rest = nm.group("rw").strip(), nm.group("src")
            if not rw:
                raise ValueError(
                    "txsql INSERT REPLACE WHERE: empty predicate"
                )
        if not re.match(
            r"(?is)^(VALUES\s*\(.*\)|\(.*\)|SELECT\s+.*|[\w.]+)\s*$",
            rest,
            re.DOTALL,
        ):
            raise ValueError(
                f"txsql INSERT: malformed source {rest!r} — expected "
                "VALUES (...), SELECT ..., or a named source"
            )
        t = _target_table(spark, m.group("t"), tables)
        srctok = rest
        is_values = bool(re.match(r"(?is)^VALUES", srctok))
        if is_values:
            # typed through the table's recorded schema: VALUES rows
            # evaluate as a SELECT so expressions (casts, functions)
            # work exactly as spark.sql would evaluate them
            df = spark.sql(f"SELECT * FROM ({srctok}) ")
        elif srctok.upper().startswith("SELECT"):
            df = _parse_select(spark, srctok, tables)
        else:
            df = _source_frame(spark, srctok, sources, tables)
        _, _, schema_json = t._snapshot()
        if schema_json is not None and (is_values or m.group("cols")):
            import json as _json

            from pyspark.sql.types import StructType as _St

            tgt = _St.fromJson(_json.loads(schema_json))
            # managed columns are computed at write (generated
            # expressions, _row_id, GENERATED ALWAYS identity) —
            # Delta lets inserts omit them; a BY DEFAULT identity
            # column may be supplied explicitly via the column-list
            # form ``INSERT INTO t (k, v, did, ...) VALUES ...``
            meta = t.meta
            managed = (
                set(meta.get("generated_cols") or {})
                | {"_bucket", "_row_id"}
            )
            ident = meta.get("identity_cols") or {}
            always = {
                c for c, sp in ident.items() if sp.get("always", True)
            }
            base = [
                f.name for f in tgt.fields
                if f.name not in managed | set(ident)
            ]
            insertable = [
                f.name for f in tgt.fields
                if f.name not in managed | always
            ]
            if m.group("cols"):
                names = [
                    c.strip().strip("`")
                    for c in _Scanner.split_top(m.group("cols"))
                ]
                unknown = set(names) - set(insertable)
                missing = set(base) - set(names)
                if unknown or missing:
                    raise ValueError(
                        "txsql INSERT: column list must name every "
                        f"user column ({base}) and may add BY DEFAULT "
                        "identity columns — "
                        f"unknown/managed: {sorted(unknown)}, "
                        f"missing: {sorted(missing)}"
                    )
                if len(df.columns) != len(names):
                    raise ValueError(
                        f"txsql INSERT: {len(df.columns)} value(s) for "
                        f"{len(names)} named column(s)"
                    )
                cols = names
            else:
                if len(df.columns) != len(base):
                    raise ValueError(
                        f"txsql INSERT: VALUES arity {len(df.columns)} "
                        f"!= table arity {len(base)} ({base}) — "
                        "managed columns (generated / identity / "
                        "_row_id) are omitted; name columns explicitly "
                        "(INSERT INTO t (cols) VALUES ...) to supply a "
                        "BY DEFAULT identity value"
                    )
                cols = base
            df = df.toDF(*cols)
            for f in tgt.fields:
                if f.name in df.columns:
                    df = df.withColumn(
                        f.name, df[f.name].cast(f.dataType)
                    )
        if overwrite:
            # full-table overwrite as ONE atomic predicate-scoped
            # rewrite — history and time travel to pre-overwrite
            # versions survive (Delta's INSERT OVERWRITE on the log)
            return t.replace_where(df, "true")
        if rw:
            return t.replace_where(
                df, rw, **_dml_prune(spark, m.group("t"), tables, rw)
            )
        return t.append(df)

    if two == "SHOW PARTITIONS":
        m = re.match(
            r"(?is)^SHOW\s+PARTITIONS\s+(?P<t>'[^']*'|`[^`]+`|\w+)\s*$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed SHOW PARTITIONS")
        return _target_table(spark, m.group("t"), tables).show_partitions()

    if two in ("DESCRIBE HISTORY", "DESC HISTORY"):
        m = re.match(
            r"(?is)^DESC(?:RIBE)?\s+HISTORY\s+(?P<t>'[^']*'|`[^`]+`|\w+)\s*$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed DESCRIBE HISTORY")
        return _target_table(spark, m.group("t"), tables).history()

    if head == "UPDATE":
        m = re.match(
            r"(?is)^UPDATE\s+(?P<t>'[^']*'|`[^`]+`|\w+)\s+SET\s+"
            r"(?P<set>.*?)(?:\s+WHERE\s+(?P<w>.*))?$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed UPDATE")
        t = _target_table(spark, m.group("t"), tables)
        assignments = _parse_set(m.group("set"), {})
        if assignments is None:
            raise ValueError("txsql UPDATE: SET * is not meaningful")
        return t.update_where(
            m.group("w") or "true",
            assignments,
            **_dml_prune(spark, m.group("t"), tables, m.group("w")),
        )

    if two == "DELETE FROM":
        m = re.match(
            r"(?is)^DELETE\s+FROM\s+(?P<t>'[^']*'|`[^`]+`|\w+)"
            r"(?:\s+WHERE\s+(?P<w>.*))?$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed DELETE FROM")
        t = _target_table(spark, m.group("t"), tables)
        return t.delete_where(
            m.group("w") or "true",
            **_dml_prune(spark, m.group("t"), tables, m.group("w")),
        )

    if two == "COPY INTO":
        m = re.match(
            r"(?is)^COPY\s+INTO\s+(?P<t>'[^']*'|`[^`]+`|\w+)\s+"
            r"FROM\s+'(?P<p>[^']*)'"
            r"(?:\s+FILEFORMAT\s*=\s*(?P<f>\w+))?"
            r"(?:\s+FORMAT_OPTIONS\s*\((?P<fo>[^)]*)\))?"
            r"(?:\s+COPY_OPTIONS\s*\((?P<co>[^)]*)\))?\s*$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed COPY INTO")
        t = _target_table(spark, m.group("t"), tables)
        co = _parse_options(m.group("co")) if m.group("co") else {}
        return t.copy_into(
            m.group("p"),
            file_format=(m.group("f") or "parquet").lower(),
            options=(
                _parse_options(m.group("fo")) if m.group("fo") else None
            ),
            force=str(co.get("force", "false")).lower() == "true",
        )

    if two == "TRUNCATE TABLE" or head == "TRUNCATE":
        m = re.match(
            r"(?is)^TRUNCATE\s+(?:TABLE\s+)?(?P<t>'[^']*'|`[^`]+`|\w+)\s*$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed TRUNCATE TABLE")
        # Delta's TRUNCATE: delete every row, keep schema/history —
        # exactly DELETE FROM t (time travel to pre-truncate versions
        # still works; VACUUM reclaims the files later)
        return _target_table(spark, m.group("t"), tables).delete_where(
            "true"
        )

    if two == "SHOW TBLPROPERTIES":
        m = re.match(
            r"(?is)^SHOW\s+TBLPROPERTIES\s+(?P<t>'[^']*'|`[^`]+`|\w+)\s*$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed SHOW TBLPROPERTIES")
        t = _target_table(spark, m.group("t"), tables)
        import json as _json

        rows = sorted(
            (k, v if isinstance(v, str) else _json.dumps(v))
            for k, v in t.meta.items()
        )
        return spark.createDataFrame(rows, "key string, value string")

    if two in ("DESCRIBE DETAIL", "DESC DETAIL"):
        m = re.match(
            r"(?is)^DESC(?:RIBE)?\s+DETAIL\s+(?P<t>'[^']*'|`[^`]+`|\w+)\s*$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed DESCRIBE DETAIL")
        return _target_table(spark, m.group("t"), tables).detail()

    if head == "RESTORE":
        m = re.match(
            r"(?is)^RESTORE\s+(?:TABLE\s+)?(?P<t>'[^']*'|`[^`]+`|\w+)\s+"
            r"TO\s+(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
            r"|TIMESTAMP\s+AS\s+OF\s+(?P<ts>'[^']*'|\d+(?:\.\d+)?))\s*$",
            stmt,
        )
        if not m:
            raise ValueError(
                "txsql: malformed RESTORE — RESTORE [TABLE] <t> TO "
                "VERSION AS OF <n> | TIMESTAMP AS OF '<ts>'"
            )
        t = _target_table(spark, m.group("t"), tables)
        if m.group("v"):
            return t.restore(int(m.group("v")))
        return t.restore(
            t.version_at_timestamp(_parse_tt_timestamp(m.group("ts")))
        )

    if head == "OPTIMIZE":
        m = re.match(
            r"(?is)^OPTIMIZE\s+(?P<t>'[^']*'|`[^`]+`|\w+)"
            r"(?:\s+WHERE\s+(?P<w>.*?))?"
            r"(?:\s+ZORDER\s+BY\s*\((?P<z>[^)]*)\))?\s*$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed OPTIMIZE")
        t = _target_table(spark, m.group("t"), tables)
        if m.group("z"):
            cols = tuple(
                c.strip().strip("`")
                for c in _Scanner.split_top(m.group("z"))
            )
            return t.optimize_zorder(cols, where=m.group("w"))
        return t.compact(where=m.group("w"))

    if head == "VACUUM":
        m = re.match(
            r"(?is)^VACUUM\s+(?P<t>'[^']*'|`[^`]+`|\w+)"
            r"(?:\s+RETAIN\s+(?P<n>\d+(?:\.\d+)?)\s+"
            r"(?P<unit>VERSIONS|HOURS))?"
            r"(?:\s+(?P<dry>DRY\s+RUN))?\s*$",
            stmt,
        )
        if not m:
            raise ValueError("txsql: malformed VACUUM")
        t = _target_table(spark, m.group("t"), tables)
        unit = (m.group("unit") or "VERSIONS").upper()
        return t.vacuum(
            retain_versions=(
                int(float(m.group("n") or 1)) if unit == "VERSIONS" else 1
            ),
            retain_hours=(
                float(m.group("n")) if unit == "HOURS" else None
            ),
            dry_run=bool(m.group("dry")),
        )

    if head == "FSCK":
        m = re.match(
            r"(?is)^FSCK\s+REPAIR\s+TABLE\s+"
            r"(?P<t>'[^']*'|`[^`]+`|\w+)"
            r"(?:\s+(?P<dry>DRY\s+RUN))?\s*$",
            stmt,
        )
        if not m:
            raise ValueError(
                "txsql: malformed FSCK — expected "
                "FSCK REPAIR TABLE <t> [DRY RUN]"
            )
        t = _target_table(spark, m.group("t"), tables)
        return t.fsck(dry_run=bool(m.group("dry")))

    raise ValueError(
        f"txsql: unsupported statement {head!r} — supported: MERGE "
        "INTO, INSERT INTO, UPDATE, DELETE FROM, COPY INTO, RESTORE, "
        "OPTIMIZE [WHERE], VACUUM, SHOW PARTITIONS, DESCRIBE HISTORY, "
        "CREATE TABLE ... USING txlog, ALTER TABLE, DESCRIBE DETAIL, "
        "SELECT ... [VERSION|TIMESTAMP AS OF] / table_changes(t, a, b) "
        "(SELECT over non-txlog relations belongs to spark.sql)"
    )
