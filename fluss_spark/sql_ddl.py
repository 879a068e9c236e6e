"""SQL front-end: the reference is driven through Flink SQL DDL
(CREATE TABLE ... WITH ('bucket.num'='4', 'table.merge-engine'=...),
ALTER TABLE, SHOW/DESCRIBE, INSERT INTO, SELECT — fluss docs
"engine-flink/ddl" and FlinkCatalog.java). This module gives the same
statement surface over the engine: DDL routes to Admin/catalog calls,
INSERT routes to append/upsert, and reads delegate to Spark SQL over
the registered engine views (`<db>_<table>` [+ __snapshot/__changelog/
__binlog]), so every SELECT is a normal Catalyst plan with pushdown.

A practical, regex-parsed subset — statements are single commands, not
scripts; quoting follows SQL ('single quotes' for strings/options,
optional backticks for identifiers).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from fluss_spark.admin import (
    AddColumn,
    Admin,
    AlterColumnType,
    DropColumn,
    RenameColumn,
    ResetOption,
    SetOption,
)
from fluss_spark import fsops
from fluss_spark.catalog import Catalog
from fluss_spark.table import FlussTable, create_table, register_sql_views
from fluss_spark.types import Field, TableSchema


def _acl_str(b) -> str:
    """Reference list_acl row format (procedures.md:141):
    resource="...";permission="...";principal="...";operation="...";host="..."
    """
    return (
        f'resource="{b.resource.type}:{b.resource.name}";'
        f'permission="{b.entry.permission}";'
        f'principal="{b.entry.principal.type}:{b.entry.principal.name}";'
        f'operation="{b.entry.operation}";host="{b.entry.host}"'
    )


def _acl_filter(args: dict, res_of):
    """Build an AclBindingFilter from procedure args; 'ANY' wildcards."""
    from fluss_spark import security as sec

    r = args.get("resource", "ANY")
    if str(r).upper() == "ANY":
        rtype, rname = sec.ANY, None
    else:
        res = res_of(str(r))
        rtype, rname = res.type, res.name
    p = args.get("principal", "ANY")
    principal = None if str(p).upper() == "ANY" else sec.FlussPrincipal.parse(p)
    op = str(args.get("operation", "ANY")).upper()
    h = args.get("host", "ANY")
    host = None if str(h).upper() == "ANY" else str(h)
    return sec.AclBindingFilter(
        resource_type=rtype,
        resource_name=rname,
        principal=principal,
        operation=op,
        host=host,
    )


class SqlParseError(ValueError):
    pass


class FlussSqlSession:
    """Statement executor bound to one catalog + SparkSession.

    sql() returns a DataFrame for queries (SELECT/SHOW/DESCRIBE) and
    None for DDL/DML commands.
    """

    def __init__(
        self,
        catalog: Catalog,
        spark: SparkSession,
        default_db: str = "fluss",
        principal: str | None = None,
        super_users: list[str] | None = None,
    ):
        self.catalog = catalog
        self.admin = Admin(catalog)
        self.spark = spark
        self.default_db = default_db
        # (db, table) -> (commit version, schema id) whose plan the
        # current temp views bind; re-registration is skipped while
        # both are unchanged
        self._view_versions: dict[tuple[str, str], tuple] = {}
        # ACL enforcement (security.py, DefaultAuthorizer semantics):
        # a session without a principal is an open/unauthenticated
        # session (reference with the authorizer disabled); with one,
        # every statement is checked against the warehouse ACLs.
        self.principal = principal
        if principal is not None:
            from fluss_spark.security import Authorizer

            self._authorizer = Authorizer(catalog, super_users=super_users)

    # ------------------------------------------------------------------ #
    def sql(self, statement: str) -> DataFrame | None:
        s = statement.strip().rstrip(";").strip()
        # dispatch on whitespace-NORMALIZED text: the handlers' own
        # parsers accept \s+ between keywords (e.g. _merge's regex), so
        # the dispatcher must too — otherwise "MERGE  INTO" or a
        # newline between keywords would skip the handler (and its
        # write-auth/identifier guards) and fall through to the raw
        # spark.sql path. `low` is only ever prefix/pattern-matched;
        # handlers re-parse `s` itself.
        low = re.sub(r"\s+", " ", s.lower())
        if self.principal is not None:
            self._authorize_statement(s, low)
        if low.startswith("create database"):
            return self._create_database(s)
        if low.startswith("drop database"):
            return self._drop_database(s)
        if low.startswith("create materialized table"):
            return self._create_materialized(s)
        if low.startswith("alter materialized table"):
            return self._alter_materialized(s)
        if low.startswith("drop materialized table"):
            return self._drop_table(s, materialized=True)
        if low.startswith("create table"):
            return self._create_table(s)
        if low.startswith("drop table"):
            return self._drop_table(s)
        if low.startswith("alter table"):
            return self._alter_table(s)
        if low.startswith("show databases"):
            return self.spark.createDataFrame(
                [(d,) for d in self.admin.list_databases()], "database_name string"
            )
        if low.startswith(("show tables", "show partitions", "show create table")):
            return self._show(s)
        if low.startswith(("describe ", "desc ")):
            return self._describe(s)
        if low.startswith(("insert into", "insert overwrite")):
            return self._insert(s)
        if low.startswith("truncate table"):
            return self._truncate(s)
        if low.startswith("delete from"):
            return self._delete(s)
        if low.startswith("update "):
            return self._update(s)
        if low.startswith("merge into"):
            return self._merge(s)
        if low.startswith("call"):
            return self._call(s)
        if low.startswith("use "):
            db = s[4:].strip().strip("`")
            if db not in self.admin.list_databases():
                from fluss_spark.catalog import DatabaseNotFoundError

                raise DatabaseNotFoundError(db)
            self.default_db = db
            return None
        if low.startswith(("select", "with ", "values", "explain")):
            self._register_referenced_views(s)
            s = self._rewrite_time_travel(s)
            return self.spark.sql(s)
        raise SqlParseError(f"unsupported statement: {s[:80]}")

    # ------------------------------------------------------------------ #
    # helpers
    # ------------------------------------------------------------------ #
    def _qualify(self, name: str) -> tuple[str, str]:
        name = name.strip().strip("`")
        if "." in name:
            db, t = name.split(".", 1)
            return db.strip("`"), t.strip("`")
        return self.default_db, name

    def _register_all_views(self) -> None:
        for db in self.admin.list_databases():
            register_sql_views(self.catalog, self.spark, db)

    def _table_fingerprint(self, db: str, t: str) -> tuple:
        """Cheap staleness probe for the view cache: commit version plus
        the PHYSICAL layout facts a bound plan depends on — schema.json
        mtime (alters, drop+recreate), partitions.json mtime
        (drop_partition/auto_partition delete subdirs WITHOUT a commit),
        and the commit-dir name sets of both tiers (tier_log, compaction
        and TTL move/remove whole dirs, also commit-free). Pure driver
        metadata reads; no Spark work."""
        import os

        from fluss_spark.sources.log import commit_dirs

        tdir = self.catalog.table_dir(db, t)

        def _names(d: str) -> tuple:
            return tuple(v for v, _ in commit_dirs(d))

        def _mtime(p: str) -> int:
            try:
                return os.stat(p).st_mtime_ns
            except FileNotFoundError:
                return 0

        return (
            self.catalog.current_commit(db, t).version,
            _mtime(os.path.join(tdir, "meta", "schema.json")),
            _mtime(os.path.join(tdir, "meta", "partitions.json")),
            _names(os.path.join(tdir, "log")),
            _names(os.path.join(tdir, "remote")),
        )

    def _referenced_tables(self, stmt: str) -> list[tuple[str, str]]:
        """Engine tables the statement's text mentions as `<db>_<table>`
        view names (case-insensitive superset match — same rule the view
        refresh uses)."""
        low_stmt = stmt.lower()
        out = []
        for db in self.admin.list_databases():
            for t in self.catalog.list_tables(db):
                if f"{db}_{t}".lower() in low_stmt:
                    out.append((db, t))
        return out

    def _authorize_statement(self, s: str, low: str) -> None:
        """Statement -> (operation, resource) mapping for the ACL check
        (security.Authorizer; reference authorizes each RPC the same
        way server-side). Reads check READ on every referenced table;
        DDL checks CREATE on the database / DROP/ALTER on the table;
        writes check WRITE on the target table."""
        from fluss_spark import security as sec

        def chk(op: str, res) -> None:
            self._authorizer.check(self.principal, op, res)

        # file-source table refs (FROM parquet.`/path`) name no engine
        # view, so the per-table READ checks below would never fire —
        # an authenticated principal could read ANY path unchecked.
        # Path-based access has no ACL resource to check against, so it
        # is rejected outright for authenticated sessions. The guard
        # matches ANY dot-backtick sequence, not just after FROM/JOIN:
        # comma cross joins (FROM t, parquet.`/p`) and backticked
        # formats (`parquet`.`/p`) are equally valid Spark SQL. Engine
        # views are flat `db_tbl` names, so a legitimate QUERY never
        # needs `X.`...`` (struct fields use unquoted dots). Scoped to
        # statements whose text reaches spark.sql — pure-DDL forms are
        # parsed by this session's own grammar and can legitimately
        # quote identifiers as db.`tbl`.
        reaches_spark_sql = low.startswith(
            ("select", "with ", "values", "explain", "insert", "merge into")
        ) or re.search(r"\bas\s+select\b", low)
        if reaches_spark_sql and re.search(r"\.\s*`", low):
            raise sec.AuthorizationError(
                "path-based table references (format.`path`) are not "
                "allowed in an authenticated session: they bypass "
                "table-level ACLs"
            )

        if low.startswith("create database"):
            chk("CREATE", sec.Resource.cluster())
            return
        if low.startswith("drop database"):
            m = re.match(r"drop\s+database\s+(?:if\s+exists\s+)?([\w.`]+)", s, re.I)
            if m:
                chk("DROP", sec.Resource.database(m.group(1).strip("`")))
            return
        if low.startswith(("create materialized table", "create table")):
            m = re.match(
                r"create\s+(?:materialized\s+)?table\s+(?:if\s+not\s+exists\s+)?([\w.`]+)",
                s,
                re.I,
            )
            if m:
                db, _ = self._qualify(m.group(1))
                chk("CREATE", sec.Resource.database(db))
            # CREATE TABLE ... LIKE copies the source's full schema,
            # comments and properties — that is a DESCRIBE of the
            # source, and the dotted db.tbl form never matches the
            # db_tbl substring rule below, so check it explicitly
            lk = re.match(
                r"create\s+table\s+(?:if\s+not\s+exists\s+)?[\w.`]+\s+like\s+([\w.`]+)",
                s,
                re.I,
            )
            if lk:
                sdb, sname = self._qualify(lk.group(1))
                chk("DESCRIBE", sec.Resource.table(sdb, sname))
            # CTAS / MT definitions also read their sources
            for rdb, rt in self._referenced_tables(s):
                chk("READ", sec.Resource.table(rdb, rt))
            return
        if low.startswith(("drop table", "drop materialized table")):
            m = re.match(
                r"drop\s+(?:materialized\s+)?table\s+(?:if\s+exists\s+)?([\w.`]+)",
                s,
                re.I,
            )
            if m:
                db, t = self._qualify(m.group(1))
                chk("DROP", sec.Resource.table(db, t))
            return
        if low.startswith(("alter table", "alter materialized table")):
            m = re.match(r"alter\s+(?:materialized\s+)?table\s+([\w.`]+)", s, re.I)
            if m:
                db, t = self._qualify(m.group(1))
                chk("ALTER", sec.Resource.table(db, t))
            return
        if low.startswith(
            ("insert into", "insert overwrite", "truncate table", "delete from",
             "update ", "merge into")
        ):
            m = re.match(
                r"(?:insert\s+(?:into|overwrite)|truncate\s+table|delete\s+from|update"
                r"|merge\s+into)\s+([\w.`]+)",
                s,
                re.I,
            )
            target = self._qualify(m.group(1)) if m else None
            if target:
                chk("WRITE", sec.Resource.table(*target))
            for rdb, rt in self._referenced_tables(s):
                if (rdb, rt) != target:
                    chk("READ", sec.Resource.table(rdb, rt))
            return
        if low.startswith(("show", "describe ", "desc ")):
            m = re.search(r"(?:table|partitions|describe|desc)\s+([\w.`]+)\s*$", s, re.I)
            if m and not low.startswith(("show tables", "show databases")):
                db, t = self._qualify(m.group(1))
                chk("DESCRIBE", sec.Resource.table(db, t))
            else:
                chk("DESCRIBE", sec.Resource.cluster())
            return
        if low.startswith(("select", "with ", "values", "explain")):
            for rdb, rt in self._referenced_tables(s):
                chk("READ", sec.Resource.table(rdb, rt))
            return
        if low.startswith("call"):
            # ACL + cluster-config management is a cluster-level ALTER
            # (listing is DESCRIBE); maintenance procedures are ALTER on
            # their target table
            proc, args = self._parse_call(s)
            if proc in ("add_acl", "drop_acl", "set_cluster_configs",
                        "reset_cluster_configs", "append_cluster_configs",
                        "subtract_cluster_configs", "drop_kv_snapshot_lease"):
                chk("ALTER", sec.Resource.cluster())
            elif proc in ("list_acl", "get_cluster_configs"):
                chk("DESCRIBE", sec.Resource.cluster())
            elif proc == "snapshot_diff":
                # a version diff is a READ of the table's data (changelog
                # slice + v1 probe) — not a maintenance ALTER
                target = args.get("table") or (args.get("_pos") or [None])[0]
                if target:
                    chk("READ", sec.Resource.table(*self._qualify(str(target))))
            else:
                target = args.get("table") or (args.get("_pos") or [None])[0]
                if target:
                    res = sec.Resource.table(*self._qualify(str(target)))
                    chk("ALTER", res)
                    if proc in ("export_delta_log", "export_iceberg_metadata"):
                        # the export hands the table's data files to an
                        # external reader — ALTER alone must not leak READ
                        chk("READ", res)
            return

    def _register_referenced_views(self, stmt: str) -> None:
        """Register (refresh) only the engine views the statement's text
        mentions — view plans bind the commit state at registration, so
        re-registering per statement is what keeps reads fresh, but
        paying that for EVERY table in the warehouse made each
        statement O(tables). A superset match (table name as a
        substring) is fine: registering an extra table is harmless.
        Matching is case-insensitive on BOTH sides — Spark resolves temp
        view names case-insensitively, so a differently-cased reference
        must still refresh the view (else it reads a stale plan).

        A matched table re-registers only when its COMMIT VERSION moved
        past the version its current views bind (one metadata read vs
        re-planning 2-4 scans) — repeated SELECTs over unchanged tables
        pay a version probe, nothing else."""
        low_stmt = stmt.lower()
        hit = False
        for db in self.admin.list_databases():
            matched = [
                t
                for t in self.catalog.list_tables(db)
                if f"{db}_{t}".lower() in low_stmt
            ]
            if not matched:
                continue
            hit = True
            stale = []
            for t in matched:
                v = self._table_fingerprint(db, t)
                if self._view_versions.get((db, t)) != v:
                    stale.append((t, v))
            if stale:
                register_sql_views(
                    self.catalog, self.spark, db, tables=[t for t, _ in stale]
                )
                for t, v in stale:
                    self._view_versions[(db, t)] = v
        if not hit:  # nothing recognized: conservative full refresh
            self._register_all_views()
            self._view_versions.clear()

    @staticmethod
    def _parse_options(segment: str) -> dict[str, str]:
        """'k' = 'v' pairs inside WITH ( ... ) / SET ( ... )."""
        return {
            m.group(1): m.group(2)
            for m in re.finditer(r"'([^']+)'\s*=\s*'([^']*)'", segment)
        }

    # ------------------------------------------------------------------ #
    # time travel: <view> VERSION AS OF n | TIMESTAMP AS OF 'ts' (S8)
    # ------------------------------------------------------------------ #
    def _rewrite_time_travel(self, s: str) -> str:
        """S8 as a SQL surface: `FROM db_tbl VERSION AS OF 3` pins the
        scan to commit 3; `TIMESTAMP AS OF '2026-01-01 00:00:00'`
        resolves the newest commit at-or-before that wall-clock time
        (the reference's OffsetSpec.TIMESTAMP applied to whole commits).
        Implemented by binding a dedicated temp view to the as-of scan
        and substituting it — Catalyst pushdown still applies, and the
        scan lists only commit dirs up to v. Travel below a
        rebucket's log_floor returns empty (that history was rewritten)."""

        def sub(m: re.Match) -> str:
            base = m.group(1)
            db_tbl = None
            for db in self.admin.list_databases():
                for tname in self.catalog.list_tables(db):
                    if f"{db}_{tname}".lower() == base.lower():
                        db_tbl = (db, tname)
            if db_tbl is None:
                return m.group(0)  # not an engine view: leave untouched
            db, tname = db_tbl
            t = FlussTable(self.catalog, db, tname)
            lit = m.group(3)
            current = self.catalog.current_commit(db, tname).version
            if m.group(2).lower() == "version":
                try:
                    version = int(lit.strip("'"))
                except ValueError:
                    raise SqlParseError(f"VERSION AS OF expects an integer, got {lit}") from None
                if version > current:
                    # scan's commit-dir fence is relative to the
                    # requested version: letting v exceed the committed
                    # tip would read a crashed writer's published-but-
                    # uncommitted staging dir — a dirty read no other
                    # surface allows
                    raise SqlParseError(
                        f"VERSION AS OF {version}: {db}.{tname} is at commit {current}"
                    )
            else:
                from datetime import datetime, timezone

                ts = datetime.fromisoformat(lit.strip("'"))
                if ts.tzinfo is None:
                    ts = ts.replace(tzinfo=timezone.utc)
                ts_ms = int(ts.timestamp() * 1000)
                versions = [
                    cs.version
                    for cs in self.catalog.commit_history(db, tname)
                    # <= current: a crashed writer can leave vN.json
                    # without CURRENT having moved — never time-travel
                    # into an uncommitted version
                    if cs.ts_ms <= ts_ms and cs.version <= current
                ]
                if not versions:
                    raise SqlParseError(
                        f"no commit of {db}.{tname} at or before {lit}"
                    )
                version = max(versions)
            view = f"{db}_{tname}__asof_{version}"
            t.log.scan(self.spark, as_of_commit=version).createOrReplaceTempView(view)
            return view

        return re.sub(
            r"\b([A-Za-z_]\w*)\s+(version|timestamp)\s+as\s+of\s+('[^']*'|\d+)",
            sub,
            s,
            flags=re.I,
        )

    # ------------------------------------------------------------------ #
    # CALL procedures (engine-flink/procedures.md)
    # ------------------------------------------------------------------ #
    def _parse_call(self, s: str) -> tuple[str, dict]:
        """CALL [catalog.]sys.<proc>(args): named `k => 'v'` pairs or
        positional literals; returns (proc, {named..., "_pos": [...]}).
        """
        m = re.match(r"call\s+(?:[\w`]+\.)?sys\.(\w+)\s*\((.*)\)\s*$", s, re.I | re.S)
        if not m:
            m2 = re.match(r"call\s+(?:[\w`]+\.)?sys\.(\w+)\s*$", s, re.I)
            if m2:
                return m2.group(1).lower(), {"_pos": []}
            raise SqlParseError(f"unsupported CALL statement: {s[:80]}")
        proc, body = m.group(1).lower(), m.group(2)
        args: dict = {"_pos": []}
        for part in self._split_top_level(body):
            part = part.strip()
            if not part:
                continue
            nm = re.match(r"(\w+)\s*=>\s*(.+)$", part, re.S)
            if nm:
                args[nm.group(1).lower()] = self._call_literal(nm.group(2).strip())
            else:
                args["_pos"].append(self._call_literal(part))
        return proc, args

    @staticmethod
    def _split_top_level(body: str) -> list[str]:
        """Split on commas outside quotes (procedure arg values may
        contain commas, e.g. config lists)."""
        out, cur, in_q = [], [], False
        i = 0
        while i < len(body):
            c = body[i]
            if c == "'":
                if in_q and i + 1 < len(body) and body[i + 1] == "'":
                    cur.append("''")
                    i += 2
                    continue
                in_q = not in_q
                cur.append(c)
            elif c == "," and not in_q:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(c)
            i += 1
        out.append("".join(cur))
        return out

    @staticmethod
    def _call_literal(tok: str):
        if tok.startswith("'") and tok.endswith("'"):
            return tok[1:-1].replace("''", "'")
        try:
            return int(tok)
        except ValueError:
            return tok.strip("`")

    def _call(self, s: str) -> DataFrame | None:
        """Reference procedure surface (engine-flink/procedures.md:19-160
        for the ACL family, :161-353 for cluster configs) plus the
        engine's own maintenance levers exposed the same way. Rebalance
        procedures (add_server_tag etc., :354-560) are dissolved by the
        single-engine architecture — there are no servers to tag."""
        from fluss_spark import security as sec

        proc, args = self._parse_call(s)
        pos = args.pop("_pos", [])

        def res_of(rname: str):
            if rname.upper() == "CLUSTER":
                return sec.Resource.cluster()
            if "." in rname:
                return sec.Resource.table(*rname.split(".", 1))
            return sec.Resource.database(rname)

        def _rows(rows: list[str]) -> DataFrame:
            return self.spark.createDataFrame(
                [(r,) for r in rows], "result string"
            )

        if proc == "add_acl":
            r = args.get("resource") or (pos + [None])[0]
            entry = sec.AccessControlEntry(
                sec.FlussPrincipal.parse(args["principal"]),
                args["operation"],
                args.get("host", "*"),
                args.get("permission", "ALLOW"),
            )
            added = sec.create_acls(self.catalog, [sec.AclBinding(res_of(r), entry)])
            return _rows([_acl_str(b) for b in added])
        if proc == "drop_acl":
            flt = _acl_filter(args, res_of)
            dropped = sec.drop_acls(self.catalog, [flt])
            return _rows([_acl_str(b) for b in dropped])
        if proc == "list_acl":
            flt = _acl_filter(args, res_of)
            return _rows([_acl_str(b) for b in sec.list_acls(self.catalog, flt)])

        if proc == "drop_kv_snapshot_lease":
            # reference DropKvSnapshotLeaseProcedure (procedures.md
            # "kv snapshot lease"): release the lease id EVERYWHERE —
            # the cleanup path for lease remnants after an abnormal
            # job termination; cluster-scoped, idempotent
            lease_id = args.get("leaseid") or args.get("lease_id") or (pos + [None])[0]
            if lease_id is None:
                raise SqlParseError(
                    "CALL sys.drop_kv_snapshot_lease: missing leaseId"
                )
            dropped = []
            for dbn in self.admin.list_databases():
                for tn in self.admin.list_tables(dbn):
                    from fluss_spark import maintenance as _mnt

                    t = FlussTable(self.catalog, dbn, tn)
                    if t.kv is None:
                        continue
                    if str(lease_id) in _mnt.active_snapshot_leases(t):
                        self.admin.release_kv_snapshot_lease(dbn, tn, str(lease_id))
                        dropped.append(f"{dbn}.{tn}")
            return _rows([f"dropped_lease={lease_id} tables={len(dropped)}"])

        if proc in ("append_cluster_configs", "subtract_cluster_configs"):
            # reference Append/SubtractClusterConfigsProcedure
            # (procedures.md:249-316): add/remove values of
            # COLLECTION-type configs, passed as (key, value) pairs;
            # values live comma-joined in the persisted config map
            import json as _json

            path = os.path.join(self.catalog.warehouse, "_cluster", "configs.json")
            try:
                with open(path) as f:
                    cfg = _json.load(f)
            except FileNotFoundError:
                cfg = {}
            pairs = pos if pos else [x for kv in args.items() for x in kv]
            if len(pairs) % 2:
                raise SqlParseError(f"CALL sys.{proc}: expects (key, value) pairs")
            for k, v in zip(pairs[::2], pairs[1::2]):
                vals = [x for x in str(cfg.get(str(k), "")).split(",") if x]
                if proc == "append_cluster_configs":
                    if str(v) not in vals:
                        vals.append(str(v))
                else:
                    vals = [x for x in vals if x != str(v)]
                if vals:
                    cfg[str(k)] = ",".join(vals)
                else:
                    cfg.pop(str(k), None)
            fsops.write_atomic(path, _json.dumps(cfg, indent=1, sort_keys=True))
            touched = sorted({str(k) for k in pairs[::2]})
            return _rows([f'{k}="{cfg.get(k, "")}"' for k in touched])

        if proc in ("get_cluster_configs", "set_cluster_configs", "reset_cluster_configs"):
            import json as _json

            path = os.path.join(self.catalog.warehouse, "_cluster", "configs.json")
            try:
                with open(path) as f:
                    cfg = _json.load(f)
            except FileNotFoundError:
                cfg = {}
            if proc == "set_cluster_configs":
                # pairs: set_cluster_configs('k1','v1','k2','v2') or named
                pairs = pos if pos else [x for kv in args.items() for x in kv]
                for k, v in zip(pairs[::2], pairs[1::2]):
                    cfg[str(k)] = str(v)
            elif proc == "reset_cluster_configs":
                keys = pos or list(args.values())
                for k in keys:
                    cfg.pop(str(k), None)
            if proc != "get_cluster_configs":
                fsops.write_atomic(path, _json.dumps(cfg, indent=1, sort_keys=True))
            keys = pos or list(args.values()) if proc == "get_cluster_configs" else sorted(cfg)
            shown = [k for k in (keys or sorted(cfg)) if k in cfg]
            return _rows([f'{k}="{cfg[k]}"' for k in shown])

        if proc == "snapshot_diff":
            # CALL sys.snapshot_diff(table, v1[, v2]) — net row-level
            # diff between two snapshot versions (engine-state analog of
            # the reference's per-snapshot log offsets,
            # Admin.getKvSnapshotMetadata, Admin.java:450). READ-gated:
            # it returns table data, unlike the ALTER-gated maintenance
            # procedures below. The time-travel family's SQL face, with
            # table.snapshot_diff() as the Python API.
            target = args.get("table") or (pos + [None])[0]
            if target is None:
                raise SqlParseError("CALL sys.snapshot_diff: missing table argument")
            db, name = self._qualify(str(target))
            v1 = args.get("v1", (pos + [None, None])[1])
            v2 = args.get("v2", (pos + [None, None, None])[2])
            if v1 is None:
                raise SqlParseError("CALL sys.snapshot_diff: missing v1")
            t = FlussTable(self.catalog, db, name)
            return t.snapshot_diff(
                self.spark, int(v1), None if v2 is None else int(v2)
            )

        # engine maintenance procedures (beyond the reference's surface:
        # its rebalance moves replicas between servers; these operate on
        # the storage layout itself)
        from fluss_spark import maintenance as mnt

        if proc not in (
            "compact_log", "compact_snapshot", "expire_snapshots",
            "expire_log_ttl", "tier_log", "rebucket",
            "create_index", "sync_index", "export_delta_log",
            "export_iceberg_metadata",
            "create_vector_index", "sync_vector_index",
            "materialize_snapshot",
        ):
            raise SqlParseError(f"unknown procedure: sys.{proc}")
        target = args.get("table") or (pos + [None])[0]
        if target is None:
            raise SqlParseError(f"CALL sys.{proc}: missing table argument")
        db, name = self._qualify(str(target))
        if proc in ("create_index", "sync_index"):
            from fluss_spark import indexes as ix

            column = args.get("column") or (pos + [None, None])[1]
            if column is None:
                raise SqlParseError(f"CALL sys.{proc}: missing column argument")
            if proc == "create_index":
                ix.create_index(self.catalog, db, name, str(column), self.spark)
                return _rows([f"index={ix.index_table_name(name, str(column))}"])
            n = ix.sync_index(self.catalog, db, name, str(column), self.spark)
            return _rows([f"consumed_changelog_rows={n}"])
        if proc in ("create_vector_index", "sync_vector_index"):
            from fluss_spark import vector_index as vx

            column = args.get("column") or (pos + [None, None])[1]
            if column is None:
                raise SqlParseError(f"CALL sys.{proc}: missing column argument")
            if proc == "create_vector_index":
                vx.create_vector_index(
                    self.catalog, db, name, str(column), self.spark,
                    k=int(args.get("k", 8)), iters=int(args.get("iters", 2)),
                )
                return _rows(
                    [f"index={vx.vindex_table_name(name, str(column))}"]
                )
            n = vx.sync_vector_index(self.catalog, db, name, str(column), self.spark)
            return _rows([f"consumed_changelog_rows={n}"])
        if proc == "export_delta_log":
            target_dir = args.get("target_dir") or (pos + [None, None])[1]
            if target_dir is None:
                raise SqlParseError("CALL sys.export_delta_log: missing target_dir")
            e = self.admin.export_delta_log(db, name, str(target_dir))
            return _rows(
                [f"delta_version={e.version} added={e.n_add} removed={e.n_remove}"]
            )
        if proc == "export_iceberg_metadata":
            target_dir = args.get("target_dir") or (pos + [None, None])[1]
            if target_dir is None:
                raise SqlParseError(
                    "CALL sys.export_iceberg_metadata: missing target_dir"
                )
            e = self.admin.export_iceberg_metadata(db, name, str(target_dir))
            return _rows(
                [
                    f"iceberg_version={e.version} snapshot_id={e.snapshot_id} "
                    f"added={e.n_add} removed={e.n_remove}"
                ]
            )
        t = FlussTable(self.catalog, db, name)
        if proc == "compact_log":
            sort_cols = args.get("sort_columns")
            zorder_cols = args.get("zorder_columns")
            n = mnt.compact_log(
                t,
                self.spark,
                target_commits=int(args.get("target_commits", 2)),
                sort_columns=(
                    [c.strip() for c in str(sort_cols).split(",")] if sort_cols else None
                ),
                zorder_columns=(
                    [c.strip() for c in str(zorder_cols).split(",")]
                    if zorder_cols
                    else None
                ),
            )
            return _rows([f"compacted_commits={n}"])
        if proc == "compact_snapshot":
            did = mnt.compact_snapshot(
                t, self.spark, max_dirs=int(args.get("max_dirs", 8))
            )
            return _rows([f"compacted={str(did).lower()}"])
        if proc == "expire_snapshots":
            n = mnt.expire_snapshots(t, keep=int(args.get("keep", 2)))
            return _rows([f"expired_data_dirs={n}"])
        if proc == "expire_log_ttl":
            n = mnt.expire_log_ttl(t, self.spark)
            return _rows([f"expired_commits={n}"])
        if proc == "tier_log":
            n = mnt.tier_log(t)
            return _rows([f"tiered_commits={n}"])
        if proc == "rebucket":
            v = mnt.rebucket_table(t, self.spark, int(args["buckets"]))
            return _rows([f"commit_version={v}"])
        if proc == "materialize_snapshot":
            # fold the deferred WAL tail into the snapshot now (the
            # on-demand form of the table.snapshot.defer-commits cadence)
            if t.kv is None:
                raise SqlParseError(
                    "CALL sys.materialize_snapshot: requires a primary-key table"
                )
            st = t.kv.materialize(self.spark)
            return _rows([f"snapshot_version={st.snapshot_version}"])
        raise SqlParseError(f"unknown procedure: sys.{proc}")

    # ------------------------------------------------------------------ #
    # databases
    # ------------------------------------------------------------------ #
    def _create_database(self, s: str) -> None:
        m = re.match(
            r"create\s+database\s+(if\s+not\s+exists\s+)?([\w.`]+)"
            r"(?:\s+comment\s+'([^']*)')?",
            s,
            re.I,
        )
        if not m:
            raise SqlParseError(s)
        self.admin.create_database(
            m.group(2).strip("`"), ignore_if_exists=bool(m.group(1)), comment=m.group(3)
        )

    def _drop_database(self, s: str) -> None:
        m = re.match(r"drop\s+database\s+(if\s+exists\s+)?([\w.`]+)", s, re.I)
        if not m:
            raise SqlParseError(s)
        db = m.group(2).strip("`")
        if m.group(1) and db not in self.admin.list_databases():
            return
        self.admin.drop_database(db)

    # ------------------------------------------------------------------ #
    # CREATE / DROP TABLE
    # ------------------------------------------------------------------ #
    def _create_table(self, s: str) -> None:
        like = re.match(
            r"create\s+table\s+(if\s+not\s+exists\s+)?([\w.`]+)\s+like\s+([\w.`]+)"
            r"(?:\s*\(\s*(including|excluding)\s+options\s*\))?\s*$",
            s,
            re.I,
        )
        if like:
            # CREATE TABLE ... LIKE (reference ddl.md:190-208): same
            # schema/partitioning/bucketing; EXCLUDING OPTIONS drops the
            # table properties (keys, buckets and partitioning are
            # structure, not options — always copied, like Flink)
            db, name = self._qualify(like.group(2))
            sdb, sname = self._qualify(like.group(3))
            src = self.admin.get_table_info(sdb, sname)
            props = {} if (like.group(4) or "including").lower() == "excluding" else dict(src.properties)
            from fluss_spark.types import EVOLUTION_PROP

            props.pop(EVOLUTION_PROP, None)  # new table has no eras
            schema = TableSchema(
                fields=[
                    Field(
                        f.name,
                        f.type,
                        nullable=f.nullable,
                        agg=f.agg,
                        auto_increment=f.auto_increment,
                        comment=f.comment,
                    )
                    for f in src.fields
                ],
                primary_key=list(src.primary_key),
                bucket_keys=list(src.bucket_keys),
                num_buckets=src.num_buckets,
                partition_keys=list(src.partition_keys),
                properties=props,
            )
            self.admin.create_database(db)
            create_table(self.catalog, db, name, schema, if_not_exists=bool(like.group(1)))
            return
        ctas = re.match(
            r"create\s+table\s+(if\s+not\s+exists\s+)?([\w.`]+)\s+"
            r"(?:partitioned\s+by\s*\(([^)]*)\)\s+)?"
            r"(?:with\s*\((.*?)\)\s+)?"
            r"as\s+((?:select|with|values)\b.*)$",
            s,
            re.I | re.S,
        )
        if ctas:
            return self._create_table_as(ctas)
        m = re.match(
            r"create\s+table\s+(if\s+not\s+exists\s+)?([\w.`]+)\s*\(", s, re.I
        )
        if not m:
            raise SqlParseError(s)
        db, name = self._qualify(m.group(2))
        # body = everything inside the FIRST balanced paren pair (regex
        # can't balance; a greedy match would swallow the WITH clause);
        # quote-aware so ')' or '(' inside a COMMENT literal don't count
        start = m.end() - 1
        depth = 0
        end = -1
        q_open = False
        for j in range(start, len(s)):
            if s[j] == "'":
                q_open = not q_open
            elif not q_open:
                if s[j] == "(":
                    depth += 1
                elif s[j] == ")":
                    depth -= 1
                    if depth == 0:
                        end = j
                        break
        if end < 0:
            raise SqlParseError(s)
        body, tail = s[start + 1 : end], s[end + 1 :]

        # split column defs on top-level commas — parens nest in
        # DECIMAL(p,s), and commas inside COMMENT '...' literals must
        # not split (quote-aware; '' is the escaped quote)
        parts, depth, cur, in_q = [], 0, [], False
        i = 0
        while i < len(body):
            ch = body[i]
            if ch == "'":
                if in_q and i + 1 < len(body) and body[i + 1] == "'":
                    cur.append("''")
                    i += 2
                    continue
                in_q = not in_q
                cur.append(ch)
            elif not in_q and ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                if not in_q:
                    if ch == "(":
                        depth += 1
                    elif ch == ")":
                        depth -= 1
                cur.append(ch)
            i += 1
        if cur:
            parts.append("".join(cur))

        fields: list[Field] = []
        primary_key: list[str] = []
        for p in (p.strip() for p in parts):
            if not p:
                continue
            pk = re.match(r"primary\s+key\s*\(([^)]*)\)(\s+not\s+enforced)?", p, re.I)
            if pk:
                primary_key = [c.strip().strip("`") for c in pk.group(1).split(",")]
                continue
            cm = re.match(
                r"`?(\w+)`?\s+([\w()<>,\s]+?)(\s+not\s+null)?"
                r"(?:\s+comment\s+'((?:[^']|'')*)')?$",
                p,
                re.I,
            )
            if not cm:
                raise SqlParseError(f"bad column definition: {p!r}")
            comment = cm.group(4)
            fields.append(
                Field(
                    cm.group(1),
                    cm.group(2).strip(),
                    nullable=not cm.group(3),
                    # SQL quote escaping: '' inside the literal -> '
                    comment=comment.replace("''", "'") if comment else comment,
                )
            )

        part_keys: list[str] = []
        pm = re.search(r"partitioned\s+by\s*\(([^)]*)\)", tail, re.I)
        if pm:
            part_keys = [c.strip().strip("`") for c in pm.group(1).split(",")]
        options = {}
        wm = re.search(r"with\s*\((.*)\)\s*$", tail, re.I | re.S)
        if wm:
            options = self._parse_options(wm.group(1))

        num_buckets = int(options.pop("bucket.num", "4"))
        bucket_keys = [
            c.strip() for c in options.pop("bucket.key", "").split(",") if c.strip()
        ]
        schema = TableSchema(
            fields=fields,
            primary_key=primary_key,
            bucket_keys=bucket_keys,
            num_buckets=num_buckets,
            partition_keys=part_keys,
            properties=options,
        )
        self.admin.create_database(db)
        create_table(self.catalog, db, name, schema, if_not_exists=bool(m.group(1)))

    def _create_table_as(self, m: re.Match) -> None:
        """CREATE TABLE [IF NOT EXISTS] name [PARTITIONED BY (...)]
        [WITH (...)] AS <query> — Flink-style CTAS: the schema (names,
        types, nullability) derives from the query plan, the table is
        created atomically-with-respect-to-this-session and the query
        result is appended as its first commit. CTAS creates LOG tables
        only (a primary key is declared structure, not derivable from a
        query — same restriction as Flink's CTAS); IF NOT EXISTS on an
        existing table skips both the create and the insert."""
        db, name = self._qualify(m.group(2))
        if m.group(1) and self.admin.table_exists(db, name):
            return
        query = m.group(5).strip()
        self._register_referenced_views(query)
        df = self.spark.sql(query)
        options = self._parse_options(m.group(4)) if m.group(4) else {}
        part_keys = (
            [c.strip().strip("`") for c in m.group(3).split(",")] if m.group(3) else []
        )
        from fluss_spark.types import type_name

        fields = [
            Field(f.name, type_name(f.dataType), nullable=f.nullable)
            for f in df.schema.fields
        ]
        num_buckets = int(options.pop("bucket.num", "4"))
        bucket_keys = [
            c.strip() for c in options.pop("bucket.key", "").split(",") if c.strip()
        ]
        schema = TableSchema(
            fields=fields,
            primary_key=[],
            bucket_keys=bucket_keys,
            num_buckets=num_buckets,
            partition_keys=part_keys,
            properties=options,
        )
        self.admin.create_database(db)
        create_table(self.catalog, db, name, schema, if_not_exists=bool(m.group(1)))
        FlussTable(self.catalog, db, name).append(df)

    def _drop_table(self, s: str, materialized: bool = False) -> None:
        m = re.match(
            r"drop\s+(?:materialized\s+)?table\s+(if\s+exists\s+)?([\w.`]+)", s, re.I
        )
        if not m:
            raise SqlParseError(s)
        db, name = self._qualify(m.group(2))
        if m.group(1) and not self.admin.table_exists(db, name):
            return
        if materialized:
            from fluss_spark.materialized import is_materialized

            if not is_materialized(self.catalog.get_schema(db, name)):
                raise SqlParseError(f"{db}.{name} is not a materialized table")
        self.admin.drop_table(db, name)

    # ------------------------------------------------------------------ #
    # MATERIALIZED TABLE (reference: engine-flink/ddl.md, stored as
    # regular tables with materialized-table.* props,
    # FlinkConnectorOptions.java:241-294)
    # ------------------------------------------------------------------ #
    def _create_materialized(self, s: str) -> None:
        from fluss_spark.materialized import (
            create_incremental_materialized_table,
            create_materialized_table,
        )

        m = re.match(
            r"create\s+materialized\s+table\s+(if\s+not\s+exists\s+)?([\w.`]+)\s+"
            r"freshness\s*=\s*interval\s+'(\d+)'\s+(second|minute|hour|day)s?\s+"
            r"(?:with\s*\((.*?)\)\s+)?(incremental\s+)?as\s+(.*)$",
            s,
            re.I | re.S,
        )
        if not m:
            raise SqlParseError(
                "CREATE MATERIALIZED TABLE <name> FRESHNESS = INTERVAL '<n>' "
                "<SECOND|MINUTE|HOUR|DAY> [WITH (...)] [INCREMENTAL] AS <query>"
            )
        db, name = self._qualify(m.group(2))
        options = self._parse_options(m.group(5)) if m.group(5) else {}
        if m.group(6):
            if m.group(1) and self.admin.table_exists(db, name):
                return
            source, group_by, aggs, where = self._parse_incremental_query(
                m.group(7).strip()
            )
            create_incremental_materialized_table(
                self, db, name, source=source, group_by=group_by, aggs=aggs,
                where=where, freshness=int(m.group(3)),
                freshness_unit=m.group(4).upper(), options=options,
            )
            return
        create_materialized_table(
            self,
            db,
            name,
            m.group(7).strip(),
            freshness=int(m.group(3)),
            freshness_unit=m.group(4).upper(),
            options=options,
            if_not_exists=bool(m.group(1)),
        )

    def _parse_incremental_query(self, q: str):
        """INCREMENTAL definitions are restricted to the maintainable
        shape: SELECT <group cols + fn(col) AS alias> FROM <one engine
        table> [WHERE <row predicate>] GROUP BY <group cols>, with fn in
        count/sum/min/max — exactly what the delta fold can keep exact.
        Anything else must drop the INCREMENTAL keyword (full-recompute
        refresh has no shape restriction)."""
        m = re.match(
            r"select\s+(.*?)\s+from\s+([\w.`]+)"
            r"(?:\s+where\s+(.*?))?\s+group\s+by\s+([\w\s,`]+)$",
            q,
            re.I | re.S,
        )
        if not m:
            raise SqlParseError(
                "INCREMENTAL AS expects: SELECT ... FROM <table> [WHERE ...] "
                "GROUP BY <cols>"
            )
        group_by = [c.strip(" `") for c in m.group(4).split(",")]
        aggs: dict[str, tuple[str, str]] = {}
        for item in self._split_top_level(m.group(1)):
            item = item.strip()
            if item.strip("`") in group_by:
                continue
            am = re.match(
                r"(count|sum|min|max)\s*\(\s*(\*|[\w`]+)\s*\)\s+as\s+([\w`]+)$",
                item,
                re.I,
            )
            if not am:
                raise SqlParseError(
                    f"INCREMENTAL AS: '{item}' is not a group column or "
                    "count/sum/min/max(col) AS alias"
                )
            aggs[am.group(3).strip("`")] = (
                am.group(1).lower(),
                am.group(2).strip("`"),
            )
        tbl = m.group(2).strip("`")
        if "." in tbl:
            source = tbl
        else:
            # the flat db_tbl view-name form the definition queries use
            matches = [
                f"{d}.{t}"
                for d in self.admin.list_databases()
                for t in self.catalog.list_tables(d)
                if f"{d}_{t}".lower() == tbl.lower()
            ]
            if len(matches) != 1:
                raise SqlParseError(
                    f"INCREMENTAL AS: cannot resolve source table '{tbl}'"
                    + (f" (ambiguous: {matches})" if matches else "")
                )
            source = matches[0]
        return source, group_by, aggs, (m.group(3).strip() if m.group(3) else None)

    def _alter_materialized(self, s: str) -> None:
        from fluss_spark.materialized import (
            refresh_materialized_table,
            set_refresh_status,
        )

        m = re.match(
            r"alter\s+materialized\s+table\s+([\w.`]+)\s+(suspend|resume|refresh)\s*$",
            s,
            re.I,
        )
        if not m:
            raise SqlParseError(f"unsupported ALTER MATERIALIZED TABLE action: {s[:60]}")
        db, name = self._qualify(m.group(1))
        action = m.group(2).lower()
        if action == "suspend":
            set_refresh_status(self.catalog, db, name, "SUSPENDED")
        elif action == "resume":
            set_refresh_status(self.catalog, db, name, "ACTIVATED")
        else:
            refresh_materialized_table(self, db, name)

    # ------------------------------------------------------------------ #
    # ALTER TABLE
    # ------------------------------------------------------------------ #
    def _alter_table(self, s: str) -> None:
        m = re.match(r"alter\s+table\s+([\w.`]+)\s+(.*)$", s, re.I | re.S)
        if not m:
            raise SqlParseError(s)
        db, name = self._qualify(m.group(1))
        rest = m.group(2).strip()
        low = rest.lower()
        if low.startswith("add column"):
            cm = re.match(r"add\s+column\s+`?(\w+)`?\s+([\w()<>,\s]+)$", rest, re.I)
            if not cm:
                raise SqlParseError(rest)
            changes = [AddColumn(cm.group(1), cm.group(2).strip())]
        elif low.startswith("drop column"):
            cm = re.match(r"drop\s+column\s+`?(\w+)`?$", rest, re.I)
            if not cm:
                raise SqlParseError(rest)
            changes = [DropColumn(cm.group(1))]
        elif low.startswith("rename column"):
            cm = re.match(r"rename\s+column\s+`?(\w+)`?\s+to\s+`?(\w+)`?$", rest, re.I)
            if not cm:
                raise SqlParseError(rest)
            changes = [RenameColumn(cm.group(1), cm.group(2))]
        elif low.startswith("alter column"):
            cm = re.match(
                r"alter\s+column\s+`?(\w+)`?\s+type\s+([\w()<>,\s]+)$", rest, re.I
            )
            if not cm:
                raise SqlParseError(rest)
            changes = [AlterColumnType(cm.group(1), cm.group(2).strip())]
        elif low.startswith("set"):
            opts = self._parse_options(rest)
            if not opts:
                raise SqlParseError(rest)
            changes = [SetOption(k, v) for k, v in opts.items()]
        elif low.startswith(("reset", "unset")):
            # Flink dialect says RESET, the Spark connector dialect says
            # UNSET (engine-spark/ddl.md:200) — same operation
            keys = re.findall(r"'([^']+)'", rest)
            if not keys:
                raise SqlParseError(rest)
            changes = [ResetOption(k) for k in keys]
        elif re.match(r"(add|drop)\s+(if\s+(not\s+)?exists\s+)?partition\b", low):
            # engine-spark/ddl.md:227-249: ALTER TABLE ... ADD/DROP
            # [IF [NOT] EXISTS] PARTITION (k = 'v') [, PARTITION (...)]*
            # quote-aware spec body: a ')' inside a quoted partition
            # value must not close the paren group
            cm = re.findall(r"partition\s*\(((?:[^)']|'[^']*')*)\)", rest, re.I)
            if not cm:
                raise SqlParseError(rest)
            add = low.startswith("add")
            if_mod = re.search(r"if\s+(not\s+)?exists", low) is not None
            for body in cm:
                spec: dict[str, str] = {}
                for part in self._split_top_level(body):
                    k, _, v = part.partition("=")
                    spec[k.strip().strip("`")] = v.strip().strip("'")
                if add:
                    self.admin.create_partition(db, name, spec, ignore_if_exists=if_mod)
                else:
                    self.admin.drop_partition(
                        db, name, spec, ignore_if_not_exists=if_mod, spark=self.spark
                    )
            return
        else:
            raise SqlParseError(f"unsupported ALTER TABLE action: {rest[:60]}")
        self.admin.alter_table(db, name, changes)

    # ------------------------------------------------------------------ #
    # SHOW / DESCRIBE
    # ------------------------------------------------------------------ #
    def _show(self, s: str) -> DataFrame:
        low = s.lower()
        if low.startswith("show tables"):
            m = re.match(r"show\s+tables(?:\s+(?:in|from)\s+([\w`]+))?$", s, re.I)
            if not m:
                raise SqlParseError(s)
            db = (m.group(1) or self.default_db).strip("`")
            return self.spark.createDataFrame(
                [(t,) for t in self.admin.list_tables(db)], "table_name string"
            )
        if low.startswith("show partitions"):
            m = re.match(r"show\s+partitions\s+([\w.`]+)$", s, re.I)
            if not m:
                raise SqlParseError(s)
            db, name = self._qualify(m.group(1))
            parts = self.admin.list_partitions(db, name)  # validates partitioned
            key = self.admin.get_table_info(db, name).partition_keys[0]
            return self.spark.createDataFrame(
                [(f"{key}={p.spec[key]}",) for p in parts], "partition string"
            )
        if low.startswith("show create table"):
            m = re.match(r"show\s+create\s+table\s+([\w.`]+)$", s, re.I)
            if not m:
                raise SqlParseError(s)
            db, name = self._qualify(m.group(1))
            return self.spark.createDataFrame(
                [(self._render_create(db, name),)], "create_statement string"
            )
        raise SqlParseError(s)

    def _render_create(self, db: str, name: str) -> str:
        sch = self.admin.get_table_info(db, name)
        from fluss_spark.materialized import FRESH_PROP, MT_PREFIX, Q_PROP, UNIT_PROP

        if Q_PROP in sch.properties:
            p = sch.properties
            out = (
                f"CREATE MATERIALIZED TABLE {db}.{name}\n"
                f"FRESHNESS = INTERVAL '{p[FRESH_PROP]}' {p[UNIT_PROP]}"
            )
            user_opts = {
                k: v for k, v in p.items() if not k.startswith(MT_PREFIX)
            }
            user_opts["bucket.num"] = str(sch.num_buckets)
            pairs = ", ".join(f"'{k}' = '{v}'" for k, v in sorted(user_opts.items()))
            return out + f"\nWITH ({pairs})\nAS {p[Q_PROP]}"
        cols = [
            f"  `{f.name}` {f.type}"
            + ("" if f.nullable else " NOT NULL")
            + (
                f" COMMENT '{f.comment.replace(chr(39), chr(39) * 2)}'"
                if f.comment
                else ""
            )
            for f in sch.fields
        ]
        if sch.primary_key:
            cols.append(f"  PRIMARY KEY ({', '.join(sch.primary_key)}) NOT ENFORCED")
        out = f"CREATE TABLE {db}.{name} (\n" + ",\n".join(cols) + "\n)"
        if sch.partition_keys:
            out += f" PARTITIONED BY ({', '.join(sch.partition_keys)})"
        opts = {"bucket.num": str(sch.num_buckets), **sch.properties}
        if sch.bucket_keys and sch.bucket_keys != [
            c for c in sch.primary_key if c not in sch.partition_keys
        ]:
            opts["bucket.key"] = ",".join(sch.bucket_keys)
        pairs = ", ".join(f"'{k}' = '{v}'" for k, v in sorted(opts.items()))
        return out + f" WITH ({pairs})"

    def _describe(self, s: str) -> DataFrame:
        m = re.match(r"desc(?:ribe)?\s+([\w.`]+)$", s, re.I)
        if not m:
            raise SqlParseError(s)
        db, name = self._qualify(m.group(1))
        sch = self.admin.get_table_info(db, name)
        rows = [
            (
                f.name,
                f.type,
                f.nullable,
                "PRI" if f.name in sch.primary_key else
                ("PART" if f.name in sch.partition_keys else ""),
                f.comment,
            )
            for f in sch.fields
        ]
        return self.spark.createDataFrame(
            rows, "name string, type string, nullable boolean, key string, comment string"
        )

    # ------------------------------------------------------------------ #
    # INSERT INTO
    # ------------------------------------------------------------------ #
    def _insert(self, s: str) -> None:
        m = re.match(
            r"insert\s+(into|overwrite)\s+([\w.`]+)\s*"
            r"(?:partition\s*\(([^)]*)\)\s*)?(.*)$",
            s,
            re.I | re.S,
        )
        if not m:
            raise SqlParseError(s)
        overwrite = m.group(1).lower() == "overwrite"
        db, name = self._qualify(m.group(2))
        source = m.group(4).strip()
        t = FlussTable(self.catalog, db, name)
        # static partition spec: INSERT ... t PARTITION (dt = '2024-01-01')
        # binds the partition column as a literal; the query supplies the
        # remaining columns (Flink static-partition form)
        static: dict[str, str] = {}
        if m.group(3):
            for part in m.group(3).split(","):
                k, _, v = part.partition("=")
                k = k.strip().strip("`")
                if k not in t.schema.partition_keys:
                    raise SqlParseError(f"{k!r} is not a partition key of {db}.{name}")
                static[k] = v.strip().strip("'")
        # auto-increment columns never bind from the query: the engine
        # assigns them (log append: per record; pk commit: at key insert)
        auto = {f.name for f in t.schema.fields if f.auto_increment}
        cols = [c for c in t.schema.data_columns() if c not in static and c not in auto]
        if source.lower().startswith("values"):
            # VALUES rows bind positionally to the table's columns
            df = self.spark.sql(
                f"SELECT * FROM ({source}) AS _v({', '.join(cols)})"
            )
        else:
            self._register_referenced_views(source)
            df = self.spark.sql(source)
            if len(df.columns) != len(cols):
                raise SqlParseError(
                    f"INSERT arity mismatch: query yields {len(df.columns)} "
                    f"columns, table expects {len(cols)}"
                )
            df = df.toDF(*cols)  # positional binding, Flink-style
        # cast to the DECLARED column types: SQL literals infer narrow
        # types (0.5 -> DECIMAL(2,1)) and the log's explicit read schema
        # would misread a physically-decimal file as its declared type
        from pyspark.sql import functions as F

        from fluss_spark.types import parse_type

        df = df.select(
            *[
                F.lit(static[f.name]).cast(parse_type(f.type)).alias(f.name)
                if f.name in static
                else F.col(f.name).cast(parse_type(f.type)).alias(f.name)
                for f in t.schema.fields
                if f.name not in auto
            ]
        )
        if overwrite:
            return self._insert_overwrite(t, df)
        if t.kv is not None:
            t.upsert(df)
        else:
            t.append(df)

    def _truncate(self, s: str) -> None:
        """TRUNCATE TABLE: a log table trims every commit (physical
        removal + log_start rebase, so A1 metadata counts stay exact and
        offsets keep monotone history); a primary-key table deletes all
        live rows THROUGH the merge engine (changelog -D + snapshot
        rewrite), preserving CDC semantics for downstream consumers."""
        m = re.match(r"truncate\s+table\s+([\w.`]+)$", s, re.I)
        if not m:
            raise SqlParseError(s)
        db, name = self._qualify(m.group(1))
        t = FlussTable(self.catalog, db, name)
        if t.kv is not None:
            from pyspark.sql import functions as F

            t.delete_where(self.spark, F.lit(True))
            return
        from fluss_spark.materialized import _truncate_commits_before

        state = self.catalog.current_commit(db, name)
        _truncate_commits_before(t, state.version + 1)

    # -- DELETE FROM / UPDATE (writes.md:90-115) ----------------------- #
    #
    # The reference supports row-level DELETE and UPDATE on primary-key
    # tables in batch mode only, and only when the WHERE clause binds the
    # FULL primary key with equality (writes.md:92,106 — "only single
    # data deletions based on the primary key"). This engine keeps that
    # fast path — the full-pk form resolves the owning bucket
    # driver-side and reads ONE bucket dir (the L1 lookup plan) — and
    # additionally accepts arbitrary predicates, executed as a
    # filtered-snapshot read-modify-write through the merge engine
    # (SupportsRowLevelUpdate generalized), because a Spark engine has no
    # reason to refuse the set-oriented form.

    @staticmethod
    def _split_assignments(body: str) -> list[str]:
        """Split a SET list on commas outside quotes AND parens (an
        assignment value may be a function call with commas)."""
        out, start, depth, in_q, i, n = [], 0, 0, False, 0, len(body)
        while i < n:
            c = body[i]
            if c == "'":
                if in_q and i + 1 < n and body[i + 1] == "'":
                    i += 2
                    continue
                in_q = not in_q
            elif not in_q:
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                elif c == "," and depth == 0:
                    out.append(body[start:i])
                    start = i + 1
            i += 1
        out.append(body[start:])
        return out

    @staticmethod
    def _find_top_level(body: str, word: str, skip_case: bool = False) -> int:
        """Index of the first occurrence of keyword `word` outside
        single-quoted strings and parens, or -1. With skip_case, also
        outside CASE ... END expressions (their WHEN/THEN keywords
        would otherwise read as MERGE clause boundaries)."""
        depth, case_depth, in_q, i, n = 0, 0, False, 0, len(body)
        wl, low = len(word), body.lower()

        def _kw(at: int, kw: str) -> bool:
            if not low.startswith(kw, at):
                return False
            b = at == 0 or not (body[at - 1].isalnum() or body[at - 1] == "_")
            j = at + len(kw)
            a = j >= n or not (body[j].isalnum() or body[j] == "_")
            return b and a

        while i < n:
            c = body[i]
            if c == "'":
                if in_q and i + 1 < n and body[i + 1] == "'":
                    i += 2
                    continue
                in_q = not in_q
            elif not in_q:
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                elif skip_case and _kw(i, "case"):
                    case_depth += 1
                    i += 4
                    continue
                elif skip_case and case_depth > 0 and _kw(i, "end"):
                    case_depth -= 1
                    i += 3
                    continue
                elif depth == 0 and case_depth == 0 and _kw(i, word):
                    return i
            i += 1
        return -1

    def _keyed_rows(self, t: FlussTable, cond: str):
        """Single-bucket fast-path resolution for a DML predicate: a
        conjunction of equality terms binding exactly the full primary
        key takes the L1 lookup plan, exactly the bucket key (a pk
        prefix) takes the L2 prefix-lookup plan — either way ONE bucket
        dir is read instead of scanning the snapshot. Returns the
        matching-row DataFrame, or None when the predicate doesn't have
        a keyed shape."""
        key = self._eq_conjunction(t, cond)
        if key is None:
            return None
        pk, bk = t.schema.primary_key, t.schema.bucket_keys
        if sorted(key) == sorted(pk):
            return t.lookup(self.spark, key)
        if sorted(key) == sorted(bk) and pk[: len(bk)] == bk and len(bk) < len(pk):
            return t.prefix_lookup(self.spark, key)
        return None

    def _eq_conjunction(self, t: FlussTable, cond: str) -> dict | None:
        """Parse `cond` as a conjunction of `col = literal` terms; return
        the {col: value} dict, else None."""
        parts, i, n = [], 0, len(cond)
        in_q = False
        low = cond.lower()
        starts = [0]
        while i < n:
            c = cond[i]
            if c == "'":
                if in_q and i + 1 < n and cond[i + 1] == "'":
                    i += 2
                    continue
                in_q = not in_q
            elif not in_q and low.startswith("and", i):
                b = i == 0 or not (cond[i - 1].isalnum() or cond[i - 1] == "_")
                a = i + 3 >= n or not (cond[i + 3].isalnum() or cond[i + 3] == "_")
                if b and a:
                    parts.append(cond[starts[-1] : i])
                    starts.append(i + 3)
                    i += 3
                    continue
            i += 1
        parts.append(cond[starts[-1] :])
        key: dict[str, object] = {}
        for term in parts:
            term = term.strip()
            if term.startswith("(") and term.endswith(")"):
                term = term[1:-1].strip()
            m = re.match(r"`?(\w+)`?\s*=\s*(.+)$", term, re.S)
            if not m:
                return None
            col, tok = m.group(1), m.group(2).strip()
            if tok.startswith("'") and tok.endswith("'") and len(tok) >= 2:
                val: object = tok[1:-1].replace("''", "'")
            else:
                try:
                    val = int(tok)
                except ValueError:
                    try:
                        val = float(tok)
                    except ValueError:
                        return None
            if col in key or col not in {f.name for f in t.schema.fields}:
                return None
            key[col] = val
        return key

    def _dml_target(self, raw: str) -> FlussTable:
        db, name = self._qualify(raw)
        t = FlussTable(self.catalog, db, name)
        if t.kv is None:
            raise SqlParseError(
                f"Table {db}.{name} is a Log Table: row-level DELETE/UPDATE "
                "requires a primary-key table (writes.md:92-106); use "
                "TRUNCATE TABLE or retention for log data"
            )
        engine = t.schema.properties.get("table.merge-engine")
        if engine:
            # non-default merge engines fold re-upserted snapshot rows
            # through their own semantics (first_row keeps the seed so
            # the UPDATE silently no-ops; aggregation ADDS the re-written
            # row to the seed, corrupting untouched agg columns) — the
            # reference likewise rejects row-level DML on them
            # (first-row.md/aggregation.md "not support UPDATE/DELETE")
            raise SqlParseError(
                f"Table {db}.{name} uses merge-engine {engine!r}: row-level "
                "DELETE/UPDATE is only supported on default-merge tables"
            )
        return t

    def _delete(self, s: str) -> None:
        m = re.match(r"delete\s+from\s+([\w.`]+)\s*(.*)$", s, re.I | re.S)
        if not m:
            raise SqlParseError(s)
        t = self._dml_target(m.group(1))
        rest = m.group(2).strip()
        from pyspark.sql import functions as F

        if not rest:
            t.delete_where(self.spark, F.lit(True))
            return
        mw = re.match(r"where\s+(.*)$", rest, re.I | re.S)
        if not mw:
            raise SqlParseError(s)
        cond = mw.group(1).strip()
        rows = self._keyed_rows(t, cond)
        if rows is not None:
            # reference fast path: one bucket dir, no snapshot scan
            if not rows.isEmpty():
                t.delete(rows)
            return
        t.delete_where(self.spark, F.expr(cond))

    def _update(self, s: str) -> None:
        m = re.match(r"update\s+([\w.`]+)\s+set\s+(.*)$", s, re.I | re.S)
        if not m:
            raise SqlParseError(s)
        t = self._dml_target(m.group(1))
        body = m.group(2)
        wi = self._find_top_level(body, "where")
        set_part, cond = (body[:wi], body[wi + 5 :].strip()) if wi >= 0 else (body, None)
        from pyspark.sql import functions as F

        from fluss_spark.types import parse_type

        types = {f.name: f.type for f in t.schema.fields}
        assigns: dict[str, object] = {}
        for item in self._split_assignments(set_part):
            am = re.match(r"\s*`?(\w+)`?\s*=\s*(.+?)\s*$", item, re.S)
            if not am:
                raise SqlParseError(f"bad SET clause: {item!r}")
            col, expr = am.group(1), am.group(2)
            if col in t.schema.primary_key:
                # writes.md:117 — "Currently, Fluss does NOT support
                # updating primary-key columns" (they also route
                # bucketing/partitioning, so an update would move the row)
                raise SqlParseError(f"cannot UPDATE primary-key column {col!r}")
            if any(f.name == col and f.auto_increment for f in t.schema.fields):
                # ids are engine-assigned at insert and immutable
                # (PerSchemaAutoIncrementUpdater.validateTargetColumns)
                raise SqlParseError(f"cannot UPDATE auto-increment column {col!r}")
            if col not in types:
                raise SqlParseError(f"unknown column {col!r} in SET")
            if col in assigns:
                raise SqlParseError(f"duplicate SET of column {col!r}")
            assigns[col] = F.expr(expr).cast(parse_type(types[col]))
        rows = self._keyed_rows(t, cond) if cond else None
        if rows is not None:
            if rows.isEmpty():
                return
            # ONE projection: every assignment evaluates against the OLD
            # row (SQL semantics — SET a = b, b = a swaps; sequential
            # withColumn would feed the new a into b). Auto-increment
            # columns stay out of the batch — the engine carries the
            # key's existing id through the update.
            t.upsert(
                rows.select(
                    *[
                        assigns.get(f.name, F.col(f.name)).alias(f.name)
                        for f in t.schema.fields
                        if not f.auto_increment
                    ]
                )
            )
            return
        t.update_where(self.spark, F.expr(cond) if cond else F.lit(True), assigns)

    # -- MERGE INTO ----------------------------------------------------- #
    #
    # Completes the row-level DML triad. The reference exposes upsert
    # semantics through INSERT INTO on primary-key tables (writes.md:40)
    # and single-row UPDATE/DELETE (writes.md:90-115); MERGE is the
    # set-oriented composition of all three, and the engine's mixed
    # upsert/delete batch format (__op column, KvTablet-style fold) lets
    # the whole statement land as ONE atomic commit with CDC-correct
    # changelog — matched UPDATEs fold as upserts, matched DELETEs as
    # deletes, NOT MATCHED INSERTs as new-key upserts, in a single
    # write-lock acquisition.
    #
    # Scale shape: the only corpus-sized work is one key-equality join of
    # the source against the target snapshot (AQE picks broadcast when
    # the source is small; both sides hash-partition on the join key
    # otherwise). Clause evaluation is a map-side CASE chain over the
    # joined rows; the commit path then applies its own O(batch)
    # read-old semi-join and touches only the batch's buckets.

    def _split_clauses(self, body: str) -> list[str]:
        """Split the WHEN-clause tail on top-level `when` keywords
        (CASE-aware: WHEN/THEN inside CASE expressions don't split)."""
        out = []
        while True:
            rest = body[4:]  # past the leading 'when'
            nxt = self._find_top_level(rest, "when", skip_case=True)
            if nxt < 0:
                out.append(body.strip())
                return out
            out.append(body[: nxt + 4].strip())
            body = rest[nxt:]

    def _merge(self, s: str) -> None:
        from pyspark.sql import functions as F

        from fluss_spark.operators.replay import OP_COL
        from fluss_spark.types import parse_type

        m = re.match(
            r"merge\s+into\s+([\w.`]+)(?:\s+(?:as\s+)?(?!using\b)`?(\w+)`?)?"
            r"\s+using\s+(.*)$",
            s,
            re.I | re.S,
        )
        if not m:
            raise SqlParseError(s)
        t = self._dml_target(m.group(1))
        t_alias = m.group(2) or t.name
        rest = m.group(3).lstrip()
        # source: parenthesized subquery or a view name (engine tables by
        # their registered `db_tbl` view name, exactly as in SELECT)
        self._register_referenced_views(s)
        if rest.startswith("("):
            depth, i, in_q = 0, 0, False
            while i < len(rest):
                c = rest[i]
                if c == "'":
                    in_q = not in_q
                elif not in_q:
                    if c == "(":
                        depth += 1
                    elif c == ")":
                        depth -= 1
                        if depth == 0:
                            break
                i += 1
            if depth != 0:
                raise SqlParseError("unbalanced parens in MERGE source")
            src = self.spark.sql(rest[1:i])
            rest = rest[i + 1 :].strip()
            s_alias_m = re.match(r"(?:as\s+)?(?!on\b)`?(\w+)`?\s+(.*)$", rest, re.I | re.S)
            if not s_alias_m:
                raise SqlParseError("MERGE subquery source requires an alias")
            s_alias, rest = s_alias_m.group(1), s_alias_m.group(2)
        else:
            nm = re.match(r"([\w.`]+)\s+(.*)$", rest, re.S)
            if not nm:
                raise SqlParseError(s)
            src_name, rest = nm.group(1).strip("`"), nm.group(2)
            src = self.spark.table(src_name)
            s_alias = src_name.rsplit(".", 1)[-1]
            s_alias_m = re.match(r"(?:as\s+)?(?!on\b)`?(\w+)`?\s+(.*)$", rest.strip(), re.I | re.S)
            if s_alias_m:
                s_alias, rest = s_alias_m.group(1), s_alias_m.group(2)
        on_m = re.match(r"\s*on\s+(.*)$", rest, re.I | re.S)
        if not on_m:
            raise SqlParseError("MERGE requires an ON condition")
        body = on_m.group(1)
        wi = self._find_top_level(body, "when", skip_case=True)
        if wi < 0:
            raise SqlParseError("MERGE requires at least one WHEN clause")
        on_cond, clause_text = body[:wi].strip(), body[wi:].strip()

        fields = t.schema.fields
        types = {f.name: f.type for f in t.schema.fields}
        pk = t.schema.primary_key
        # auto-increment columns are engine-assigned: excluded from SET */
        # INSERT * expansion and from the write batch, rejected as
        # explicit targets (validateTargetColumns semantics)
        auto_set = {f.name for f in fields if f.auto_increment}
        t_marker, s_marker = F.col("__fluss_tgt"), F.col("__fluss_src")
        scope_cond = {
            "matched": t_marker.isNotNull() & s_marker.isNotNull(),
            "by_target": s_marker.isNotNull() & t_marker.isNull(),
            "by_source": t_marker.isNotNull() & s_marker.isNull(),
        }

        # parse clauses in order; first matching clause wins (ANSI)
        actions: list[tuple] = []  # (condition Column, kind, payload)
        seen_scopes: set[str] = set()
        for clause in self._split_clauses(clause_text):
            cm = re.match(
                r"when\s+(not\s+)?matched(?:\s+by\s+(source|target))?\b(.*)$",
                clause,
                re.I | re.S,
            )
            if not cm:
                raise SqlParseError(f"bad MERGE clause: {clause[:60]!r}")
            is_matched = cm.group(1) is None
            by = (cm.group(2) or "").lower()
            if is_matched and by:
                raise SqlParseError(
                    f"BY {by.upper()} is only valid after NOT MATCHED"
                )
            # WHEN NOT MATCHED [BY TARGET] = source rows with no target
            # match; WHEN NOT MATCHED BY SOURCE = target rows with no
            # source match (the Spark/Delta extension)
            scope = "matched" if is_matched else ("by_source" if by == "source" else "by_target")
            seen_scopes.add(scope)
            tail = cm.group(3)
            ti = self._find_top_level(tail, "then", skip_case=True)
            if ti < 0:
                raise SqlParseError(f"MERGE clause missing THEN: {clause[:60]!r}")
            head, act = tail[:ti].strip(), tail[ti + 4 :].strip()
            base = scope_cond[scope]
            am = re.match(r"and\s+(.*)$", head, re.I | re.S)
            if am:
                if scope == "by_source" and re.search(
                    rf"\b{re.escape(s_alias)}\s*\.", am.group(1)
                ):
                    raise SqlParseError(
                        "a NOT MATCHED BY SOURCE condition cannot reference "
                        f"the source alias {s_alias!r} (no source row exists)"
                    )
                base = base & F.expr(am.group(1))
            elif head:
                raise SqlParseError(f"bad MERGE clause head: {head!r}")
            low_act = act.lower()
            is_target_scoped = scope in ("matched", "by_source")
            if low_act.startswith("update") and is_target_scoped:
                um = re.match(r"update\s+set\s+(.*)$", act, re.I | re.S)
                if not um:
                    raise SqlParseError(f"bad UPDATE action: {act[:60]!r}")
                set_body = um.group(1).strip()
                if set_body == "*":
                    # UPDATE SET * (the Spark/Delta shorthand): every
                    # non-pk target column takes the source column of
                    # the same name
                    if scope == "by_source":
                        raise SqlParseError(
                            "UPDATE SET * is not valid for NOT MATCHED BY "
                            "SOURCE (no source row exists)"
                        )
                    missing = [
                        f.name
                        for f in fields
                        if f.name not in pk
                        and f.name not in auto_set
                        and f.name not in src.columns
                    ]
                    if missing:
                        raise SqlParseError(
                            f"UPDATE SET * source lacks target column(s) {missing}"
                        )
                    actions.append(
                        (
                            base,
                            "update",
                            {
                                f.name: F.col(f"{s_alias}.{f.name}").cast(
                                    parse_type(f.type)
                                )
                                for f in fields
                                if f.name not in pk and f.name not in auto_set
                            },
                        )
                    )
                    continue
                assigns: dict[str, object] = {}
                for item in self._split_assignments(set_body):
                    sm = re.match(
                        r"\s*(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?\s*=\s*(.+?)\s*$",
                        item,
                        re.S,
                    )
                    if not sm:
                        raise SqlParseError(f"bad SET clause: {item!r}")
                    qual, col, expr = sm.group(1), sm.group(2), sm.group(3)
                    if qual is not None and qual != t_alias:
                        raise SqlParseError(
                            f"SET target {qual}.{col} does not reference the "
                            f"MERGE target alias {t_alias!r}"
                        )
                    if col in pk:
                        raise SqlParseError(
                            f"cannot UPDATE primary-key column {col!r}"
                        )
                    if col in auto_set:
                        raise SqlParseError(
                            f"cannot UPDATE auto-increment column {col!r}"
                        )
                    if col not in types:
                        raise SqlParseError(f"unknown column {col!r} in SET")
                    if col in assigns:
                        raise SqlParseError(f"duplicate SET of column {col!r}")
                    if scope == "by_source" and re.search(
                        rf"\b{re.escape(s_alias)}\s*\.", expr
                    ):
                        raise SqlParseError(
                            "a NOT MATCHED BY SOURCE assignment cannot "
                            f"reference the source alias {s_alias!r}"
                        )
                    assigns[col] = F.expr(expr).cast(parse_type(types[col]))
                actions.append((base, "update", assigns))
            elif low_act == "delete" and is_target_scoped:
                actions.append((base, "delete", None))
            elif low_act.startswith("insert") and scope == "by_target":
                if re.match(r"insert\s*\*\s*$", act, re.I):
                    missing = [
                        f.name
                        for f in fields
                        if f.name not in auto_set and f.name not in src.columns
                    ]
                    if missing:
                        raise SqlParseError(
                            f"INSERT * source lacks target column(s) {missing}"
                        )
                    ins = {
                        f.name: F.col(f"{s_alias}.{f.name}").cast(parse_type(f.type))
                        for f in fields
                        if f.name not in auto_set
                    }
                else:
                    im = re.match(
                        r"insert\s*\(([^)]*)\)\s*values\s*\((.*)\)\s*$", act, re.I | re.S
                    )
                    if not im:
                        raise SqlParseError(f"bad INSERT action: {act[:60]!r}")
                    cols = [c.strip().strip("`") for c in im.group(1).split(",")]
                    vals = self._split_assignments(im.group(2))
                    if len(cols) != len(vals):
                        raise SqlParseError(
                            f"INSERT has {len(cols)} columns but {len(vals)} values"
                        )
                    unknown = [c for c in cols if c not in types]
                    if unknown:
                        raise SqlParseError(f"unknown INSERT column(s) {unknown}")
                    bad_auto = [c for c in cols if c in auto_set]
                    if bad_auto:
                        raise SqlParseError(
                            "explicitly specifying values for auto-increment "
                            f"column(s) {bad_auto} is not allowed"
                        )
                    lacking = [c for c in pk if c not in cols]
                    if lacking:
                        raise SqlParseError(
                            f"INSERT must supply primary-key column(s) {lacking}"
                        )
                    ins = {
                        c: F.expr(v).cast(parse_type(types[c]))
                        for c, v in zip(cols, vals)
                    }
                actions.append((base, "insert", ins))
            else:
                kind = {
                    "matched": "MATCHED",
                    "by_target": "NOT MATCHED",
                    "by_source": "NOT MATCHED BY SOURCE",
                }[scope]
                raise SqlParseError(
                    f"action {act[:40]!r} is not valid for WHEN {kind}"
                )

        tgt = (
            t.snapshot(self.spark)
            .withColumn("__fluss_tgt", F.lit(1))
            .alias(t_alias)
        )
        # BY SOURCE clauses evaluate per TARGET row, so unmatched target
        # rows must survive the join (full outer); without one, the left
        # join never materializes them — no wasted |target| pass-through
        join_type = "full" if "by_source" in seen_scopes else "left"
        joined = src.withColumn("__fluss_src", F.lit(1)).alias(s_alias).join(
            tgt, F.expr(on_cond), join_type
        )

        # first-match-wins action index (actions is non-empty: the
        # parser rejects a MERGE without WHEN clauses)
        chain = None
        for i, (cond, _, _) in enumerate(actions):
            chain = F.when(cond, F.lit(i)) if chain is None else chain.when(cond, F.lit(i))
        action_idx = chain

        def field_value(f):
            old = F.col(f"{t_alias}.{f.name}")
            out = F.lit(None).cast(parse_type(f.type))
            for i, (_, kind, payload) in enumerate(actions):
                if kind == "update":
                    v = payload.get(f.name, old)
                elif kind == "delete":
                    v = old
                else:  # insert
                    v = payload.get(f.name, F.lit(None).cast(parse_type(f.type)))
                out = F.when(action_idx == i, v).otherwise(out)
            return out.cast(parse_type(f.type)).alias(f.name)

        op = F.lit("U")
        for i, (_, kind, _) in enumerate(actions):
            if kind == "delete":
                op = F.when(action_idx == i, F.lit("D")).otherwise(op)
        batch = joined.filter(action_idx.isNotNull()).select(
            *[field_value(f) for f in fields if f.name not in auto_set],
            op.alias(OP_COL),
        )
        # ANSI cardinality rule: each target key may be touched at most
        # once per MERGE — catches both several source rows matching one
        # target row and duplicate-key inserts. The batch is pinned so
        # the check and the commit see the same rows (and the commit
        # does not re-run the join).
        batch = batch.localCheckpoint(eager=True)
        dup = batch.groupBy(*pk).count().filter(F.col("count") > 1).limit(1).collect()
        if dup:
            key = {c: dup[0][c] for c in pk}
            raise SqlParseError(
                f"MERGE touches target key {key} more than once "
                "(multiple source rows match one target row, or duplicate "
                "INSERT keys)"
            )
        if batch.isEmpty():
            return
        t.upsert(batch)

    def _insert_overwrite(self, t: FlussTable, df: DataFrame) -> None:
        """INSERT OVERWRITE (Flink semantics over the engine's commit
        mechanics): primary-key tables reject it (as in the reference —
        overwrite bypasses the merge engine); an unpartitioned log table
        replaces its whole contents (append the new commit, then trim
        every older commit — the materialized-table refresh mechanics,
        physical removal + log_start rebase so A1 metadata counts stay
        exact); a partitioned log table overwrites exactly the
        partitions present in the incoming data (Flink dynamic mode;
        a static PARTITION clause pins that set to one value) by
        routing each through Admin.drop_partition, then appending."""
        if t.kv is not None:
            raise SqlParseError(
                "INSERT OVERWRITE is not supported on primary-key tables "
                "(write through the merge engine with INSERT INTO)"
            )
        from fluss_spark.materialized import _truncate_commits_before

        if not t.schema.partition_keys:
            t.append(df)
            state = self.catalog.current_commit(t.db, t.name)
            _truncate_commits_before(t, state.version)
            return
        # dynamic overwrite: the query result must be DURABLY pinned
        # before drop_partition deletes target dirs — persist() is
        # best-effort (cache eviction would recompute the plan against
        # deleted files on a self-referencing overwrite: FileNotFound
        # or silent row loss). localCheckpoint(eager) is a true lineage
        # cut: the materialized blocks are the plan, nothing re-reads
        # the source.
        key = t.schema.partition_keys[0]
        df = df.localCheckpoint(eager=True)
        # partition specs are strings (directory names) on the
        # catalog side — compare in that domain
        incoming = {str(r[0]) for r in df.select(key).distinct().collect()}
        existing = {
            p.spec[key] for p in self.admin.list_partitions(t.db, t.name)
        }
        for val in sorted(incoming & existing):
            self.admin.drop_partition(t.db, t.name, {key: val})
        t.append(df)
