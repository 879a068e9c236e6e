"""ACL surface for the embedded engine — the reference's security/acl
model re-expressed without a server boundary.

Mirrors (spec, not code): `Admin.java:573-600` (listAcls/createAcls/
dropAcls), `fluss-common/.../security/acl/` (Resource, FlussPrincipal,
AccessControlEntry, AclBinding + the *Filter types with ANY wildcards),
and the decision procedure of `server/authorizer/DefaultAuthorizer.java`:

  - permission model is ALLOW-only (the reference's PermissionType
    leaves DENY as a future todo);
  - a resource with NO matching ACL anywhere in its hierarchy is
    DENIED (`SHOULD_ALLOW_EVERYONE_IF_NO_ACL_IS_FOUND = false`);
  - resource hierarchy: a TABLE check also consults its DATABASE and
    the CLUSTER; a DATABASE check also consults the CLUSTER
    (`DefaultAuthorizer.java:95-107`);
  - DESCRIBE is implied by READ/WRITE/CREATE/DROP/ALTER
    (`OPS_MAPPING`, `DefaultAuthorizer.java:109-118`);
  - an entry with operation ALL matches any operation; the wildcard
    principal `*:*` (WILD_CARD_PRINCIPAL — BOTH type and name `*`,
    exactly as the reference; `User:*` is just a user literally named
    `*`) and wildcard host `*` match anyone/anywhere;
  - super-users bypass every check.

Storage is a JSON file under the warehouse (`_security/acls.json`,
atomic replace) — the embedded analog of the reference's ZooKeeper ACL
nodes + change watcher.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from fluss_spark import fsops
from fluss_spark.catalog import Catalog

# ResourceType.java codes (ANY is filter-only)
ANY = "ANY"
CLUSTER = "CLUSTER"
DATABASE = "DATABASE"
TABLE = "TABLE"

# OperationType.java (ANY is filter-only)
OPERATIONS = ("ANY", "ALL", "READ", "WRITE", "CREATE", "DROP", "ALTER", "DESCRIBE")

# OPS_MAPPING: holding any of these implies DESCRIBE
_DESCRIBE_IMPLIED_BY = {"DESCRIBE", "READ", "WRITE", "CREATE", "DROP", "ALTER"}

WILD_CARD_HOST = "*"


class AuthorizationError(PermissionError):
    pass


@dataclass(frozen=True)
class FlussPrincipal:
    """FlussPrincipal.java: (type, name); '*:*' is the wildcard
    (WILD_CARD_PRINCIPAL). 'User:*' is NOT a wildcard — it names the
    user literally called '*'."""

    name: str
    type: str = "User"

    @staticmethod
    def parse(s: "str | FlussPrincipal") -> "FlussPrincipal":
        if isinstance(s, FlussPrincipal):
            return s
        if ":" in s:
            t, _, n = s.partition(":")
            return FlussPrincipal(n, t)
        return FlussPrincipal(s)

    def matches(self, other: "FlussPrincipal") -> bool:
        return self == other or (self.type == "*" and self.name == "*")


WILD_CARD_PRINCIPAL = FlussPrincipal("*", "*")


@dataclass(frozen=True)
class Resource:
    """Resource.java: CLUSTER (name 'fluss-cluster' stands for the whole
    warehouse), DATABASE (db), TABLE (db.table)."""

    type: str
    name: str

    @staticmethod
    def cluster() -> "Resource":
        return Resource(CLUSTER, "fluss-cluster")

    @staticmethod
    def database(db: str) -> "Resource":
        return Resource(DATABASE, db)

    @staticmethod
    def table(db: str, table: str) -> "Resource":
        return Resource(TABLE, f"{db}.{table}")

    def hierarchy(self) -> list["Resource"]:
        """The resources whose ACLs govern this one
        (DefaultAuthorizer.java RESOURCE_MAPPING)."""
        if self.type == TABLE:
            db = self.name.split(".", 1)[0]
            return [self, Resource.database(db), Resource.cluster()]
        if self.type == DATABASE:
            return [self, Resource.cluster()]
        return [self]


@dataclass(frozen=True)
class AccessControlEntry:
    """AccessControlEntry.java: who (principal@host) may do what."""

    principal: FlussPrincipal
    operation: str  # OperationType
    host: str = WILD_CARD_HOST
    permission: str = "ALLOW"  # PermissionType: ALLOW only, as the reference


@dataclass(frozen=True)
class AclBinding:
    resource: Resource
    entry: AccessControlEntry

    def to_json(self) -> dict:
        return {
            "resource_type": self.resource.type,
            "resource_name": self.resource.name,
            "principal_type": self.entry.principal.type,
            "principal_name": self.entry.principal.name,
            "operation": self.entry.operation,
            "host": self.entry.host,
            "permission": self.entry.permission,
        }

    @staticmethod
    def from_json(d: dict) -> "AclBinding":
        return AclBinding(
            Resource(d["resource_type"], d["resource_name"]),
            AccessControlEntry(
                FlussPrincipal(d["principal_name"], d["principal_type"]),
                d["operation"],
                d["host"],
                d["permission"],
            ),
        )


@dataclass(frozen=True)
class AclBindingFilter:
    """AclBindingFilter.java with ANY wildcards: None fields match
    anything; resource/principal/host/operation narrow the match."""

    resource_type: str = ANY
    resource_name: str | None = None
    principal: FlussPrincipal | None = None
    operation: str = ANY
    host: str | None = None

    def matches(self, b: AclBinding) -> bool:
        if self.resource_type != ANY and b.resource.type != self.resource_type:
            return False
        if self.resource_name is not None and b.resource.name != self.resource_name:
            return False
        if self.principal is not None and b.entry.principal != self.principal:
            return False
        if self.operation != ANY and b.entry.operation != self.operation:
            return False
        if self.host is not None and b.entry.host != self.host:
            return False
        return True


MATCH_ANY = AclBindingFilter()


def _acl_path(catalog: Catalog) -> str:
    return os.path.join(catalog.warehouse, "_security", "acls.json")


def _load(catalog: Catalog) -> list[AclBinding]:
    try:
        with open(_acl_path(catalog)) as f:
            return [AclBinding.from_json(d) for d in json.load(f)]
    except FileNotFoundError:
        return []


def _save(catalog: Catalog, bindings: list[AclBinding]) -> None:
    fsops.write_atomic(
        _acl_path(catalog), json.dumps([b.to_json() for b in bindings], indent=1, sort_keys=True)
    )


def list_acls(catalog: Catalog, flt: AclBindingFilter = MATCH_ANY) -> list[AclBinding]:
    """Admin.listAcls (Admin.java:573)."""
    return [b for b in _load(catalog) if flt.matches(b)]


def create_acls(catalog: Catalog, bindings: list[AclBinding]) -> list[AclBinding]:
    """Admin.createAcls (Admin.java:586). Idempotent per binding;
    returns the bindings newly added."""
    for b in bindings:
        if b.entry.operation not in OPERATIONS or b.entry.operation == ANY:
            raise ValueError(f"not a grantable operation: {b.entry.operation}")
        if b.entry.permission != "ALLOW":
            raise ValueError(
                "only ALLOW entries are supported (the reference's "
                "PermissionType leaves DENY as a future todo)"
            )
    current = _load(catalog)
    have = set(current)
    added = []
    for b in bindings:
        if b not in have:
            have.add(b)
            added.append(b)
    if added:
        _save(catalog, current + added)
    return added


def drop_acls(
    catalog: Catalog, filters: list[AclBindingFilter]
) -> list[AclBinding]:
    """Admin.dropAcls (Admin.java:598): remove every binding matching
    any filter; returns the dropped bindings."""
    current = _load(catalog)
    dropped = [b for b in current if any(f.matches(b) for f in filters)]
    if dropped:
        gone = set(dropped)
        _save(catalog, [b for b in current if b not in gone])
    return dropped


class Authorizer:
    """DefaultAuthorizer.aclsAllowAccess re-expressed: collect the
    entries across the resource hierarchy; empty -> deny; otherwise an
    ALLOW entry must match principal (or User:*), operation (exact, ALL,
    or a DESCRIBE-implying op), and host (exact or *)."""

    def __init__(self, catalog: Catalog, super_users: list[str] | None = None):
        self.catalog = catalog
        self.super_users = {FlussPrincipal.parse(s) for s in (super_users or [])}

    def authorized(
        self,
        principal: "str | FlussPrincipal",
        operation: str,
        resource: Resource,
        host: str = WILD_CARD_HOST,
    ) -> bool:
        p = FlussPrincipal.parse(principal)
        if p in self.super_users:
            return True
        bindings = _load(self.catalog)
        scope = set(resource.hierarchy())
        entries = [b.entry for b in bindings if b.resource in scope]
        if not entries:
            return False  # SHOULD_ALLOW_EVERYONE_IF_NO_ACL_IS_FOUND = false
        allow_ops = (
            _DESCRIBE_IMPLIED_BY if operation == "DESCRIBE" else {operation}
        )
        for e in entries:
            if e.permission != "ALLOW":
                continue
            if not (e.principal == p or e.principal == WILD_CARD_PRINCIPAL):
                continue
            if e.operation != "ALL" and e.operation not in allow_ops:
                continue
            if e.host not in (WILD_CARD_HOST, host):
                continue
            return True
        return False

    def check(
        self,
        principal: "str | FlussPrincipal",
        operation: str,
        resource: Resource,
        host: str = WILD_CARD_HOST,
    ) -> None:
        if not self.authorized(principal, operation, resource, host):
            p = FlussPrincipal.parse(principal)
            raise AuthorizationError(
                f"{p.type}:{p.name} is not authorized for {operation} "
                f"on {resource.type} {resource.name}"
            )
