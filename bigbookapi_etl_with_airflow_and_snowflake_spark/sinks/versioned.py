"""Versioned parquet tables: manifest-based snapshot isolation and
time travel.

The reference truncate-and-reloads its warehouse table daily
(`/root/reference/dags/bigbookapi.py` — readers racing the load see a
half-empty table, and yesterday's corpus is simply gone). The lakehouse
answer is the manifest pattern (Iceberg/Delta distilled to its core):
data files are immutable and write-once; a tiny JSON manifest per
version lists exactly the files that make up that snapshot; the
manifest is the atomic commit point.

Guarantees (single-writer-per-table; concurrent writers are detected,
see ``write_version``):

- **Snapshot isolation**: a reader that pinned version N sees exactly
  N's file list forever — a concurrent commit creates N+1 and touches
  nothing N references.
- **Time travel**: any retained version is readable by number
  (``read_version(..., version=3)``); audits and reproducible training
  runs read the manifest the run recorded.
- **Atomicity**: data lands first (under a per-commit subdirectory),
  then the manifest is staged as a fully-written temp file and
  ``os.link``ed onto its final ``v{N}`` name — the link is the commit
  point, so a reader can never observe a half-written (or empty)
  manifest: the content is durable before the name exists. ``os.link``
  fails with EEXIST when another writer won the version number, which
  makes racing writers a loud retry (the loser rebuilds against the
  longer chain), never a silent overwrite.

At 100 TB the same layout works on an object store by swapping the
os-level file ops for conditional PUTs; the plan shapes (parquet scan
of an explicit file list) are unchanged.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Callable, Sequence
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "write_version",
    "read_changes",
    "read_version",
    "read_version_pruned",
    "load_manifest",
    "prune_manifest_files",
    "write_bloom_index",
    "maintain_bloom_index",
    "index_params",
    "versions",
    "tag_version",
    "tags",
    "delete_tag",
    "create_branch",
    "branches",
    "publish_branch",
    "delete_branch",
    "vacuum",
    "verify_table",
    "clone_table",
    "add_constraint",
    "drop_constraint",
    "enable_column_mapping",
    "rename_column",
    "drop_column",
    "merge_version",
    "delete_version",
    "overwrite_partitions",
    "CommitConflict",
]

_MANIFEST_DIR = "_versions"


def _canon(path: str) -> str:
    """Canonical on-disk identity for a data file: absolute + symlinks
    resolved. Manifests store canonical paths and every touched-file
    set is canonicalized the same way, so a relative ``table_dir`` or a
    symlinked component (e.g. macOS ``/tmp``) can never make the
    copy-on-write paths miss the carried-file comparison and silently
    duplicate rows."""
    return os.path.realpath(os.path.abspath(path))


def _is_missing_path_error(e: Exception) -> bool:
    """True iff ``e`` is a file/path-vanished failure — the benign race
    a concurrent vacuum() can produce. Matches on STRUCTURE first
    (AnalysisException error-class, wrapped java exception type), then
    narrow message markers as the fallback: error-class strings vary
    across Spark versions and connect/classic modes, so message text
    alone would turn the benign race back into a hard failure after a
    rename, while a broad message match would also swallow persistent
    misconfig errors."""
    try:
        from pyspark.errors import AnalysisException

        if isinstance(e, AnalysisException):
            cond = getattr(e, "getCondition", None) or getattr(
                e, "getErrorClass", None
            )
            if cond is not None:
                name = cond()
                if name and "PATH_NOT_FOUND" in name:
                    return True
    except ImportError:  # pragma: no cover — classic-only envs
        pass
    java_exc = getattr(e, "java_exception", None)  # Py4JJavaError shape
    if java_exc is not None:
        try:
            cls = java_exc.getClass().getName()
            if "FileNotFoundException" in cls:
                return True
        except Exception:  # noqa: BLE001 — gateway already torn down
            pass
    msg = str(e)
    return any(s in msg for s in ("PATH_NOT_FOUND", "FileNotFoundException"))


class _TxnAlreadyApplied(RuntimeError):
    """Internal: a racing writer landed the same (txn_app, txn_version)
    between this commit's pre-stage check and its manifest link — the
    replay unwinds as a silent skip (see write_version txn docs)."""


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: the table advanced past the
    snapshot a copy-on-write operation was computed against. The
    operation committed nothing; re-run it against the new latest
    version (Delta/Iceberg surface the same way — the conflicting
    writer retries, it never silently merges)."""


_BRANCH_DIR = "_branches"


def _manifest_root(table_dir: str, branch: str | None = None) -> str:
    """Manifest namespace: the main chain lives in ``_versions``; each
    branch (:func:`create_branch`) is its own linear chain under
    ``_branches/<name>`` — main's listing-only O(1) metadata paths
    never see branch entries, so branches cost main nothing.

    The name is validated HERE, at the single path-join chokepoint,
    not just at create time: ``delete_branch('../_versions')`` would
    otherwise rmtree the main manifest chain, and an absolute name
    makes ``os.path.join`` discard the table dir entirely."""
    if branch is None:
        return os.path.join(table_dir, _MANIFEST_DIR)
    if not _TAG_NAME.match(branch):
        raise ValueError(
            f"branch name must match [A-Za-z0-9][A-Za-z0-9._-]{{0,63}}, "
            f"got {branch!r}"
        )
    return os.path.join(table_dir, _BRANCH_DIR, branch)


def _manifest_path(table_dir: str, version: int, branch: str | None = None) -> str:
    return os.path.join(_manifest_root(table_dir, branch), f"v{version:08d}.json")


def _ventry_num(name: str, suffix: str = "") -> int | None:
    """Parse one ``v{N}{suffix}`` entry name to its version number, or
    None — the SINGLE parser for every versioned namespace (manifest
    files, per-column index dirs, vacuum's sweep), so the naming
    convention can never drift between writer and sweeper. Staged
    ``.tmp.<uuid>`` manifests and foreign names never match."""
    if suffix:
        if not name.endswith(suffix):
            return None
        name = name[: len(name) - len(suffix)]
    if name.startswith("v") and name[1:].isdigit():
        return int(name[1:])
    return None


def _entry_versions(dirpath: str, suffix: str = "") -> list[int]:
    """Sorted version numbers of the ``v{N}{suffix}`` entries in one
    directory (see :func:`_ventry_num`)."""
    if not os.path.isdir(dirpath):
        return []
    out = []
    for f in os.listdir(dirpath):
        v = _ventry_num(f, suffix)
        if v is not None:
            out.append(v)
    return sorted(out)


def _version_numbers(table_dir: str, branch: str | None = None) -> list[int]:
    """Committed version numbers, ascending — one directory listing,
    ZERO manifest reads. Every internal who-is-latest / does-v-exist
    question goes through this, so commits, index maintenance and reads
    cost O(1) manifest loads regardless of how many versions a
    long-lived table retains. ``branch`` switches to that branch's own
    chain (:func:`_manifest_root`)."""
    return _entry_versions(_manifest_root(table_dir, branch), ".json")


def versions(table_dir: str) -> list[dict]:
    """All committed versions, ascending: [{version, n_files, n_rows,
    mode, committed_at}]. This is the REPORTING surface and reads every
    manifest by design; internal code paths use the listing-only
    :func:`_version_numbers` so per-commit metadata cost stays O(1)."""
    out = []
    for v in _version_numbers(table_dir):
        with open(_manifest_path(table_dir, v)) as fh:
            m = json.load(fh)
        out.append(
            {
                "version": m["version"],
                "n_files": len(m["files"]),
                "n_rows": m["n_rows"],
                "mode": m["mode"],
                "committed_at": m["committed_at"],
            }
        )
    return out


_TAG_DIR = "_tags"
_TAG_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")


def _atomic_link_json(path: str, obj: dict) -> bool:
    """The module's single commit-point idiom: fully write a temp file,
    ``os.link`` it onto the final name (content is durable before the
    name exists, so readers can never observe a half-written file),
    remove the temp. Returns False — with the temp cleaned up — when
    the name already exists (the caller decides whether that is a loud
    error, as tags/branches do, or a retry, as version commits do)."""
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)
    return True


def _tag_path(table_dir: str, name: str) -> str:
    return os.path.join(table_dir, _TAG_DIR, f"{name}.json")


def tag_version(table_dir: str, name: str, version: int | None = None) -> int:
    """Pin a NAMED, IMMUTABLE tag to one committed version (default:
    latest) — the Iceberg tag pattern: a training run records
    ``tag_version(dir, "run-2024-07-01")`` and every later audit reads
    exactly that snapshot by name, regardless of how far the table has
    advanced. Tags are commit points like manifests (fully-written
    temp file + ``os.link``): creating an existing name is a LOUD
    error, never a silent re-point — re-pointing a name an old audit
    recorded would silently change what that audit reproduces; delete
    and re-create to deliberately move one. ``vacuum`` retains tagged
    versions (manifest, data files, and index dirs) beyond the
    ``keep_last`` window until the tag is deleted. Returns the tagged
    version number."""
    if not _TAG_NAME.match(name):
        raise ValueError(
            f"tag name must match [A-Za-z0-9][A-Za-z0-9._-]{{0,63}}, got {name!r}"
        )
    vs = _version_numbers(table_dir)
    if not vs:
        raise ValueError(f"no committed versions under {table_dir!r}")
    if version is None:
        version = vs[-1]
    if not os.path.exists(_manifest_path(table_dir, version)):
        raise ValueError(f"version {version} not found (have {vs})")
    os.makedirs(os.path.join(table_dir, _TAG_DIR), exist_ok=True)
    path = _tag_path(table_dir, name)
    if not _atomic_link_json(
        path, {"name": name, "version": version, "created_at": time.time()}
    ):
        with open(path) as fh:
            cur = json.load(fh)["version"]
        raise ValueError(
            f"tag {name!r} already points at v{cur}; tags are immutable — "
            "delete_tag() first to deliberately move it"
        )
    return version


def tags(table_dir: str) -> dict[str, int]:
    """All tags: {name: version}, name-sorted."""
    tdir = os.path.join(table_dir, _TAG_DIR)
    if not os.path.isdir(tdir):
        return {}
    out = {}
    for f in sorted(os.listdir(tdir)):
        # endswith('.json') alone excludes staged temps ('<name>.json
        # .tmp.<hex>' never ends in '.json'); an extra '.tmp.' substring
        # test would wrongly hide a legitimate tag NAMED e.g. 'run.tmp'
        # — created fine, then invisible to vacuum's retention
        if not f.endswith(".json"):
            continue
        with open(os.path.join(tdir, f)) as fh:
            t = json.load(fh)
        out[t["name"]] = int(t["version"])
    return out


def delete_tag(table_dir: str, name: str) -> int:
    """Remove a tag (the version it pinned becomes vacuum-eligible once
    outside the retention window). Returns the version it pointed at;
    loud on a missing tag."""
    path = _tag_path(table_dir, name)
    if not os.path.exists(path):
        raise ValueError(f"tag {name!r} not found (have {sorted(tags(table_dir))})")
    with open(path) as fh:
        v = int(json.load(fh)["version"])
    os.remove(path)
    return v


def create_branch(table_dir: str, name: str, version: int | None = None) -> int:
    """Fork a NAMED, MUTABLE branch from one committed main version
    (default: latest) — the Iceberg branch / write-audit-publish
    pattern: stage risky writes on a branch, validate them with real
    reads, then :func:`publish_branch` the head back to main as one
    atomic fast-forward commit. The fork is metadata-only (the branch's
    v1 manifest references the SAME data files — zero data movement —
    and carries the table's contract, so branch commits are held to
    main's constraints and generated columns); branch commits go
    through :func:`write_version` ``branch=...`` and
    never perturb main's chain, numbering, or O(1) metadata listings.

    Branch surface: ``write_version`` (overwrite/append, schema-on-write
    included), ``read_version(branch=...)``, :func:`publish_branch`,
    :func:`delete_branch`, :func:`branches`. Merge/MOR-delete, Bloom
    indexes, tags, and the change feed stay main-lineage — stage those
    through a publish. ``vacuum`` retains every file any branch
    manifest references until the branch is deleted.

    Creating an existing name is LOUD (same discipline as tags).
    Returns the main version the branch forked from."""
    if not _TAG_NAME.match(name):
        raise ValueError(
            f"branch name must match [A-Za-z0-9][A-Za-z0-9._-]{{0,63}}, "
            f"got {name!r}"
        )
    m = load_manifest(table_dir, version)
    root = _manifest_root(table_dir, name)
    os.makedirs(root, exist_ok=True)
    manifest = {
        "version": 1,
        "committed_at": time.time(),
        **_child_body(
            m,
            mode="branch-fork",
            files=m["files"],
            n_rows=m["n_rows"],
            branch=name,
            forked_from=m["version"],
            # incarnation id: publish's crash self-heal must distinguish
            # THIS fork from an earlier same-named branch whose publish
            # is main's latest (name alone would let a re-forked branch
            # fast-forward over commits it never saw)
            fork_id=uuid.uuid4().hex,
        ),
    }
    if not _atomic_link_json(_manifest_path(table_dir, 1, name), manifest):
        raise ValueError(
            f"branch {name!r} already exists — delete_branch() first to "
            "deliberately re-fork it"
        )
    return m["version"]


def branches(table_dir: str) -> dict[str, dict]:
    """All branches: ``{name: {"head", "forked_from", "n_rows"}}``,
    name-sorted. ``head`` is the branch-local version number of the
    branch's latest commit (1 = fork point, untouched since)."""
    root = os.path.join(table_dir, _BRANCH_DIR)
    if not os.path.isdir(root):
        return {}
    out = {}
    for nm in sorted(os.listdir(root)):
        # foreign dirs that aren't valid branch names (a stray editor
        # dir, an aborted rename) are skipped, not crashed on
        if not _TAG_NAME.match(nm) or not os.path.isdir(os.path.join(root, nm)):
            continue
        vs = _version_numbers(table_dir, nm)
        if not vs:
            continue
        fork = load_manifest(table_dir, vs[0], nm)
        head = fork if len(vs) == 1 else load_manifest(table_dir, vs[-1], nm)
        out[nm] = {
            "head": vs[-1],
            "forked_from": fork.get("forked_from"),
            "n_rows": head["n_rows"],
        }
    return out


def _published_path(table_dir: str, name: str) -> str:
    # lives inside the branch dir; never matches _ventry_num, so the
    # branch's own version listing can't mistake it for a manifest
    return os.path.join(_manifest_root(table_dir, name), "published.json")


def publish_branch(table_dir: str, name: str) -> int:
    """Publish a branch head to main as ONE atomic commit — the
    fast-forward half of write-audit-publish: the new main manifest's
    body IS the branch head's (same file list, O(1) metadata, zero data
    movement). Publication is refused with :class:`CommitConflict` when
    main has advanced past the branch's base (its fork point, or the
    main version its last publish created): a fast-forward would
    silently discard main's intervening commits. There is no rebase —
    re-create the branch from current main and re-stage. Returns the
    new main version number."""
    bvs = _version_numbers(table_dir, name)
    if not bvs:
        raise ValueError(
            f"branch {name!r} not found (have {sorted(branches(table_dir))})"
        )
    head = load_manifest(table_dir, bvs[-1], name)
    fork = load_manifest(table_dir, bvs[0], name)
    base, fork_id = fork["forked_from"], fork.get("fork_id")
    pub = _published_path(table_dir, name)
    if os.path.exists(pub):
        with open(pub) as fh:
            base = json.load(fh)["main_version"]
    # self-heal the crash window between a publish's main commit and
    # its published.json update: main's latest being OUR OWN earlier
    # publish is a valid fast-forward base even if the marker is stale
    # or lost — any other intervening commit still refuses. Matched on
    # the fork INCARNATION id, not the name: a deleted-and-re-forked
    # branch must not fast-forward over commits it never saw
    mains = _version_numbers(table_dir)
    if (
        fork_id is not None
        and mains
        and load_manifest(table_dir, mains[-1]).get("published_fork") == fork_id
    ):
        base = mains[-1]
    v = _commit_ops(
        table_dir,
        _child_body(
            head,
            mode="publish",
            files=head["files"],
            n_rows=head["n_rows"],
            published_branch=name,
            published_fork=fork_id,
            branch_version=head["version"],
        ),
        base_version=base,
        conflict=(
            f"fast-forward publish of branch {name!r} refused; re-create "
            "the branch from current main to pick up the new commits"
        ),
    )
    tmp = pub + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"main_version": v, "branch_version": head["version"]}, fh)
    os.replace(tmp, pub)
    return v


def delete_branch(table_dir: str, name: str) -> dict:
    """Drop a branch and reclaim the data files ONLY its manifests
    reference (files shared with main — the fork-point carry, or
    anything a publish promoted — and files other branches reference
    are untouched). Returns ``{"files_deleted": N}``. Loud on a missing
    branch. Like vacuum, a write operation under the module's
    single-writer-per-table convention."""
    import shutil

    root = _manifest_root(table_dir, name)
    if not os.path.isdir(root):
        raise ValueError(
            f"branch {name!r} not found (have {sorted(branches(table_dir))})"
        )
    mine: set[str] = set()
    for v in _version_numbers(table_dir, name):
        m = load_manifest(table_dir, v, name)
        mine.update(m["files"])
        mine.update(m.get("dv_files") or [])
        mine.update(m.get("change_files") or [])
    others: set[str] = set()
    for v in _version_numbers(table_dir):
        m = load_manifest(table_dir, v)
        others.update(m["files"])
        others.update(m.get("dv_files") or [])
        others.update(m.get("change_files") or [])
    other_files, other_dv, other_cf = _branch_referenced(table_dir, skip=name)
    others |= other_files | other_dv | other_cf
    deleted = 0
    for f in sorted(mine - others):
        if os.path.exists(f):
            os.remove(f)
            deleted += 1
    shutil.rmtree(root, ignore_errors=True)
    return {"files_deleted": deleted}


def _branch_referenced(
    table_dir: str, skip: str | None = None
) -> tuple[set[str], set[str], set[str]]:
    """(data files, dv files, change files) referenced by ANY branch
    manifest — vacuum's extra retention set: a branch is a promise its
    snapshots stay readable until delete_branch withdraws it. ``skip``
    excludes one branch (delete_branch's "everyone but me" reference
    walk — one traversal definition, so a new manifest file-reference
    key can never desync the two callers)."""
    files: set[str] = set()
    dvs: set[str] = set()
    changes: set[str] = set()
    root = os.path.join(table_dir, _BRANCH_DIR)
    if os.path.isdir(root):
        for nm in os.listdir(root):
            if (
                nm == skip
                or not _TAG_NAME.match(nm)
                or not os.path.isdir(os.path.join(root, nm))
            ):
                continue
            for v in _version_numbers(table_dir, nm):
                m = load_manifest(table_dir, v, nm)
                files.update(m["files"])
                dvs.update(m.get("dv_files") or [])
                changes.update(m.get("change_files") or [])
    return files, dvs, changes


def load_manifest(
    table_dir: str, version: int | None, branch: str | None = None
) -> dict:
    """The manifest of ``version`` (the head when None) on ``branch``
    (the main chain when None): the JSON dict its commit wrote, with
    ``version``, ``committed_at``, ``mode``, ``files`` and ``n_rows``
    plus whatever else that commit recorded (``dv_files``,
    ``change_files``, ``stats``, ``column_mapping``, ``txn``, ...).
    Raises ``ValueError`` if the table has no commits or the version
    does not exist."""
    where = f"{table_dir!r}" + (f" branch {branch!r}" if branch else "")
    vs = _version_numbers(table_dir, branch)
    if not vs:
        raise ValueError(f"no committed versions under {where}")
    if version is None:
        version = vs[-1]
    path = _manifest_path(table_dir, version, branch)
    if not os.path.exists(path):
        raise ValueError(f"version {version} not found under {where} (have {vs})")
    with open(path) as fh:
        return json.load(fh)


def _evolved_schema(prior_json: str, new_schema, merge_schema: bool) -> str:
    """Schema-on-write for append commits (the Delta convention). The
    invariant is per-NAME type equality: a type change is ALWAYS
    refused (two parquet footers disagreeing on one column's type
    cannot be reconciled silently); adding or omitting columns is
    refused unless ``merge_schema=True``, in which case the committed
    schema is prior ∪ new (added columns nullable — carried files
    simply lack them and read as NULL under the recorded-schema scan).
    Without enforcement, an evolved append's new column silently
    VANISHES on read (the plain parquet scan takes one footer's
    schema) while the manifest records it — data loss with drifted
    metadata. Returns the union schema json to commit."""
    from pyspark.sql.types import StructField, StructType

    prior = StructType.fromJson(json.loads(prior_json))
    prior_types = {f.name: f.dataType for f in prior.fields}
    new_types = {f.name: f.dataType for f in new_schema.fields}
    conflicts = sorted(
        n for n in prior_types.keys() & new_types.keys()
        if prior_types[n] != new_types[n]
    )
    if conflicts:
        raise ValueError(
            f"append changes column types {conflicts} (table vs increment: "
            + ", ".join(
                f"{n}: {prior_types[n].simpleString()} -> "
                f"{new_types[n].simpleString()}"
                for n in conflicts
            )
            + ") — type evolution cannot be reconciled across parquet "
            "footers; cast the increment to the table's types"
        )
    added = [f for f in new_schema.fields if f.name not in prior_types]
    missing = sorted(n for n in prior_types if n not in new_types)
    if (added or missing) and not merge_schema:
        raise ValueError(
            f"append schema differs from the table's (new columns: "
            f"{[f.name for f in added]}, absent columns: {missing}) — "
            "pass merge_schema=True to evolve (added columns become "
            "nullable; absent ones read as NULL for this increment)"
        )
    fields = list(prior.fields) + [
        StructField(f.name, f.dataType, True) for f in added
    ]
    return StructType(fields).json()


def _recorded_reader(spark: SparkSession, m: dict):
    """Reader pinned to the manifest's RECORDED schema when present:
    parquet matches columns by name per file, so files predating an
    added column yield NULLs and every snapshot reads with exactly the
    schema its commit declared — no mergeSchema footer pass, no
    one-footer-wins column loss. Pre-schema manifests fall back to the
    plain scan.

    Column mapping (``column_mapping`` manifest key): data files store
    PHYSICAL names (a column's name at creation time, frozen — renames
    are metadata-only), so the scan reads the physical schema and
    aliases back to the manifest's logical names. Field ids make the
    translation stable across any number of renames."""
    from pyspark.sql.types import StructType

    sch = m.get("schema")
    if sch is None:
        return spark.read
    logical = StructType.fromJson(json.loads(sch))
    mapping = _col_mapping(m)
    if mapping is None:
        return spark.read.schema(logical)
    return _MappedReader(spark, logical, mapping)


# ---------------------------------------------------------------------------
# Column mapping (field ids): Delta/Iceberg-style metadata-only RENAME
# and DROP. The manifest's ``column_mapping`` key holds
# ``{"fields": {logical: {"id": int, "physical": str}}, "next_id": int,
# "retired": [physical, ...]}``. Invariants:
#   - a column's PHYSICAL name is its logical name at creation time,
#     frozen forever — every data file stores physical names, so a
#     rename touches zero files and old files keep reading correctly;
#   - field ids are unique and never reused; a dropped column's
#     physical name goes to ``retired`` and a NEW column may not take
#     it (old files still hold those bytes — reusing the name would
#     resurrect them);
#   - time travel keeps each version's own logical names (every
#     manifest carries its own mapping).
# ---------------------------------------------------------------------------


def _col_mapping(m: dict | None) -> dict | None:
    return (m or {}).get("column_mapping")


def _phys_names(mapping: dict | None) -> dict[str, str]:
    """logical → physical (empty when unmapped)."""
    if not mapping:
        return {}
    return {l: e["physical"] for l, e in mapping["fields"].items()}


def _logical_names(mapping: dict | None) -> dict[str, str]:
    """physical → current logical (empty when unmapped). Physical
    names are unique within a mapping (creation-time logicals, never
    reused while active), so the reverse map is well-defined."""
    if not mapping:
        return {}
    return {e["physical"]: l for l, e in mapping["fields"].items()}


def _phys_path(mapping: dict | None, col: str) -> str:
    """Physical dotted path for a LOGICAL column name or dotted nested
    path (identity when unmapped). An exact top-level match wins —
    a literal dotted COLUMN name resolves as itself, mirroring
    :func:`rename_column`'s dispatch — and only unmatched dotted
    names walk the nested map."""
    if not mapping:
        return col
    fields = mapping["fields"]
    e = fields.get(col)
    if e is not None or "." not in col:
        return e["physical"] if e else col
    parts = col.split(".")
    top = fields.get(parts[0])
    if top is None:
        return col
    return top["physical"] + "." + _phys_rel(_nested_of(top), parts[1:])


def _refuse_repeated_leaf(schema, cols, what: str) -> None:
    """Dotted ``stats_cols`` / ``index_cols`` must reach an ATOMIC
    struct leaf through STRUCT levels only. A path crossing an array
    (or map) level, or ending on a non-atomic node, records metadata
    no probe can ever use — parquet keys repeated leaves under the
    ``list.element`` path form so footer envelopes never match, and a
    Bloom build would hash whole arrays while probes hash scalar keys
    — and the failure would otherwise surface LOUD-LATE at read time
    (the exact filter refuses ``array >= scalar``) on a table that
    paid for the dead metadata on every commit. Refuse at record/build
    time instead. ``schema`` is the LOGICAL schema the paths address;
    a literal-dotted top-level name is its own column (exact match
    wins, mirroring :func:`_phys_path`) and missing names fall through
    to the sites that already diagnose them."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    tops = {f.name: f.dataType for f in schema.fields}
    for col in cols:
        if col in tops or "." not in col:
            continue
        parts = col.split(".")
        cur = tops.get(parts[0])
        if cur is None:
            continue
        for depth, p in enumerate(parts[1:], start=1):
            if isinstance(cur, (ArrayType, MapType)):
                raise ValueError(
                    f"{what} {col!r} crosses a repeated level at "
                    f"{'.'.join(parts[:depth])!r} — dotted {what} "
                    "paths must reach a scalar leaf through structs "
                    "only (parquet keys repeated leaves per-element, "
                    "so recorded envelopes/index rows could never "
                    "match a probe)"
                )
            if not isinstance(cur, StructType):
                break  # non-struct component: resolution diagnoses it
            nxt = [f for f in cur.fields if f.name == p]
            if not nxt:
                break  # missing field: resolution diagnoses it
            cur = nxt[0].dataType
        else:
            if isinstance(cur, (ArrayType, MapType, StructType)):
                raise ValueError(
                    f"{what} {col!r} addresses a non-atomic node "
                    f"({cur.simpleString()[:40]}) — dotted {what} "
                    "paths must end on a scalar struct leaf"
                )


def _refuse_repeated_leaf_m(m: dict | None, cols, what: str) -> None:
    """:func:`_refuse_repeated_leaf` against a manifest's recorded
    LOGICAL schema (no-op without one) — the early guard for the DML
    and index entry points, which must refuse BEFORE staging or
    committing (an index maintenance raise after commit would leave a
    committed version with its index chain silently unmaintained)."""
    if not cols or not m or not m.get("schema"):
        return
    from pyspark.sql.types import StructType

    _refuse_repeated_leaf(
        StructType.fromJson(json.loads(m["schema"])), cols, what
    )


def _qcol(name: str):
    """Column reference by EXACT top-level name — a literal dot (legal
    in Spark column names) must not parse as a nested path."""
    from pyspark.sql import functions as F

    if "." in name or "`" in name:
        return F.col("`" + name.replace("`", "``") + "`")
    return F.col(name)


def _nested_of(entry: dict | None) -> dict:
    """A column entry's nested-field map: relative LOGICAL dotted path
    (array levels traversed transparently) → ``{"id", "physical"}``
    where ``physical`` is the LEAF's creation-time name. Entries exist
    only for nested fields that were RENAMED at some point — an absent
    path is the identity mapping (logical == physical), which is what
    keeps legacy flat mappings and never-renamed structs zero-cost."""
    return (entry or {}).get("nested") or {}


def _phys_dtype(dtype, nested: dict, prefix: str = ""):
    """The PHYSICAL version of a column's dataType: struct field names
    replaced by their recorded creation-time physicals, arrays
    traversed transparently, everything else untouched. The shape is
    preserved EXACTLY — same field count/order/types — which is what
    makes the positional struct CAST between the two a pure rename
    (and NULL-preserving, unlike a struct() rebuild)."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    if isinstance(dtype, ArrayType):
        return ArrayType(
            _phys_dtype(dtype.elementType, nested, prefix), dtype.containsNull
        )
    if isinstance(dtype, StructType):
        out = []
        for f in dtype.fields:
            rel = f"{prefix}.{f.name}" if prefix else f.name
            phys = (nested.get(rel) or {}).get("physical", f.name)
            out.append(
                StructField(
                    phys, _phys_dtype(f.dataType, nested, rel), f.nullable
                )
            )
        return StructType(out)
    return dtype


def _resolve_nested(dtype, parts: list[str]):
    """Walk ``dtype`` down a logical nested path (structs by field
    name, arrays transparently); returns the (parent StructType, leaf
    StructField) or raises ValueError naming what's missing."""
    from pyspark.sql.types import ArrayType, StructType

    cur = dtype
    for depth, p in enumerate(parts):
        while isinstance(cur, ArrayType):
            cur = cur.elementType
        if not isinstance(cur, StructType):
            raise ValueError(
                f"path component {'.'.join(parts[:depth]) or '<root>'!r} "
                "is not a struct (or array of struct) — nested "
                "rename/drop addresses struct fields only"
            )
        match = [f for f in cur.fields if f.name == p]
        if not match:
            raise ValueError(
                f"nested field {p!r} not found under "
                f"{'.'.join(parts[:depth]) or '<column>'} "
                f"(have {[f.name for f in cur.fields]})"
            )
        if depth == len(parts) - 1:
            return cur, match[0]
        cur = match[0].dataType
    raise ValueError("empty nested path")  # unreachable for parts != []


def _to_physical(df: DataFrame, mapping: dict | None) -> DataFrame:
    """Rename mapped logical columns (top-level AND nested struct
    fields) to their physical names before staging data (or change)
    files. Columns outside the mapping (e.g. ``_change_type``) pass
    through untouched; identity mappings cost nothing (no-op
    projection elided). Nested renames apply as one positional struct
    CAST per column — NULL structs stay NULL, arrays traverse."""
    if not mapping:
        return df
    from pyspark.sql import functions as F

    fields_map = mapping["fields"]
    exprs, changed = [], False
    for f in df.schema.fields:
        e = fields_map.get(f.name)
        if e is None:
            exprs.append(_qcol(f.name))
            continue
        phys_top = e["physical"]
        p_type = _phys_dtype(f.dataType, _nested_of(e))
        if p_type != f.dataType:
            exprs.append(_qcol(f.name).cast(p_type).alias(phys_top))
            changed = True
        elif phys_top != f.name:
            exprs.append(_qcol(f.name).alias(phys_top))
            changed = True
        else:
            exprs.append(_qcol(f.name))
    return df.select(*exprs) if changed else df


def _relaxed_dtype(dtype):
    """A fully-NULLABLE copy of ``dtype`` (struct fields, array
    elements, map values). Scans relax nullability regardless; cast
    targets must too — Spark refuses casting into a NOT NULL struct
    field, and the mapped-read cast is a rename, never a constraint."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dtype, StructType):
        return StructType(
            [
                StructField(f.name, _relaxed_dtype(f.dataType), True)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, ArrayType):
        return ArrayType(_relaxed_dtype(dtype.elementType), True)
    if isinstance(dtype, MapType):
        return MapType(dtype.keyType, _relaxed_dtype(dtype.valueType), True)
    return dtype


def _physical_schema(logical, mapping: dict | None):
    """The PHYSICAL StructType for a logical schema under a mapping:
    top-level and nested struct field names at their frozen
    creation-time values (identity when unmapped) — exactly what the
    table's data files store."""
    from pyspark.sql.types import StructField, StructType

    if not mapping:
        return logical
    fields_map = mapping["fields"]
    return StructType(
        [
            StructField(
                (fields_map.get(f.name) or {}).get("physical", f.name),
                _phys_dtype(f.dataType, _nested_of(fields_map.get(f.name))),
                f.nullable,
            )
            for f in logical.fields
        ]
    )


class _MappedReader:
    """Drop-in for ``spark.read.schema(...)`` under column mapping:
    ``.parquet(*files)`` scans with the PHYSICAL schema (top-level and
    nested struct field names at their frozen creation-time values)
    and projects the result back to logical names — one projection, no
    data movement; nested renames come back via the positional struct
    cast (pure rename, NULL-preserving)."""

    def __init__(self, spark: SparkSession, logical, mapping: dict) -> None:
        self._spark = spark
        phys_schema = _physical_schema(logical, mapping)
        self._pairs = [
            (p.name, p.dataType, f.name, f.dataType)
            for p, f in zip(phys_schema.fields, logical.fields)
        ]
        self._phys_schema = phys_schema

    def parquet(self, *files):
        df = self._spark.read.schema(self._phys_schema).parquet(*files)
        if any(p != l or pt != lt for p, pt, l, lt in self._pairs):
            # cast to the NULLABLE form of the logical type: the scan
            # relaxes nullability anyway, and Spark refuses a cast INTO
            # a NOT NULL struct field — the cast is a rename, not a
            # constraint (recorded non-null flags stay in the manifest)
            df = df.select(
                *[
                    (
                        _qcol(p).cast(_relaxed_dtype(lt))
                        if _relaxed_dtype(pt) != _relaxed_dtype(lt)
                        else _qcol(p)
                    ).alias(l)
                    for p, pt, l, lt in self._pairs
                ]
            )
        return df


def _init_mapping(schema) -> dict:
    """Fresh mapping for a table enabling column mapping: physical =
    current logical (exactly what the existing files store), ids 1..n
    in field order."""
    fields = {
        f.name: {"id": i + 1, "physical": f.name}
        for i, f in enumerate(schema.fields)
    }
    return {"fields": fields, "next_id": len(schema.fields) + 1, "retired": []}


def _used_physicals(mapping: dict) -> set[str]:
    return {e["physical"] for e in mapping["fields"].values()} | set(
        mapping.get("retired") or []
    )


def _extend_mapping(prior_map: dict, schema) -> dict:
    """Append-side mapping evolution: existing logical columns keep
    their entries; NEW columns get fresh ids with physical = logical —
    refused when that name was ever used physically before (an old
    file still holds those bytes under it; silently reusing it would
    resurrect a dropped column's values)."""
    fields = dict(prior_map["fields"])
    next_id = prior_map["next_id"]
    used = _used_physicals(prior_map)
    for f in schema.fields:
        if f.name in fields:
            continue
        if f.name in used:
            raise ValueError(
                f"column name {f.name!r} was previously used by this "
                "table (physical name still present in old data files) "
                "— adding it back would resurrect the old bytes; pick a "
                "new name or rewrite the table with mode='overwrite'"
            )
        fields[f.name] = {"id": next_id, "physical": f.name}
        used.add(f.name)
        next_id += 1
    return {
        "fields": fields,
        "next_id": next_id,
        "retired": list(prior_map.get("retired") or []),
    }


def _rebuild_mapping(prior_map: dict, schema, prior_schema=None) -> dict:
    """Overwrite-side mapping evolution: logical names that persist
    keep their ids and physical names (the change feed stays id-stable
    across an overwrite); vanished columns retire their physicals; new
    names get fresh ids. Unlike the append rule, a RETIRED physical
    name MAY be reused here: the overwrite replaces the entire file
    set, so no file in the new snapshot holds the old column's bytes —
    old manifests keep their own mappings and read their own files
    correctly. Only a clash with an ACTIVE physical (a renamed column
    still alive under another logical name) is refused. Nested-field
    entries (and drop markers) survive only when the column's dataType
    is UNCHANGED from ``prior_schema`` — an overwrite that restructures
    a struct in ANY way resets that column's nested state outright: a
    stale entry whose frozen physical collides with a new literal
    sibling would stage a duplicate-field struct (and a half-matching
    path could carry a field id onto a different field). Resetting is
    sound for the same reason the retired-name rule relaxes here: the
    overwrite replaced every file, so the new snapshot's nested
    physicals ARE its logical names and old bytes can't resurrect.
    Without ``prior_schema`` (unknown prior shape) nested state resets
    unconditionally — conservative, never wrong."""
    new_types = {f.name: f.dataType for f in schema.fields}
    new_names = set(new_types)
    prior_types = (
        {f.name: f.dataType for f in prior_schema.fields}
        if prior_schema is not None
        else {}
    )

    def _prune_nested(l: str, e: dict) -> dict:
        if not _nested_of(e) and not e.get("nested_dropped"):
            return e
        if prior_types.get(l) == new_types[l]:
            return e  # same shape: every entry still resolves exactly
        return {
            k: v
            for k, v in e.items()
            if k not in ("nested", "nested_dropped")
        }

    fields = {
        l: _prune_nested(l, e)
        for l, e in prior_map["fields"].items()
        if l in new_names
    }
    retired = set(prior_map.get("retired") or []) | {
        e["physical"]
        for l, e in prior_map["fields"].items()
        if l not in new_names
    }
    next_id = prior_map["next_id"]
    active = {e["physical"] for e in fields.values()}
    for f in schema.fields:
        if f.name in fields:
            continue
        if f.name in active:
            raise ValueError(
                f"column name {f.name!r} is the physical name of a "
                "renamed column still in the schema — rename that "
                "column back or pick a different name"
            )
        fields[f.name] = {"id": next_id, "physical": f.name}
        active.add(f.name)
        retired.discard(f.name)  # reused by the new snapshot
        next_id += 1
    return {"fields": fields, "next_id": next_id, "retired": sorted(retired)}


_DV_DIR = "_dv"
# every deletion-vector sidecar holds exactly these columns
_DV_SCHEMA = "file string, pos long"
_DV_FILE, _DV_POS = "__dv_file", "__dv_pos"

_CHANGE_DIR = "_change_data"


def _write_change_files(
    spark: SparkSession,
    changes: DataFrame,
    table_dir: str,
    mapping: dict | None = None,
) -> list[str]:
    """Stage a commit's row-level CHANGE SET — the Delta ``_change_data``
    pattern: parquet rows with the table's columns plus ``_change_type``
    ('insert' | 'delete') under ``_change_data/<uuid>/``, written BEFORE
    the manifest commit and referenced by its ``change_files`` key in
    the same atomic commit. A rewrite commit that records its change
    set becomes exactly streamable (:mod:`sources.versioned_stream`)
    and exactly diffable (:func:`read_changes`) WITHOUT scanning
    carried files — the change files are O(changed rows) by
    construction, the cost CDF-on-rewrite fundamentally requires.
    Uncommitted stagings (conflict aborts, crashes) are reclaimed by
    :func:`vacuum`'s full ``_change_data`` sweep."""
    if "_change_type" not in changes.columns:
        raise ValueError("change set must carry _change_type")
    out = os.path.join(table_dir, _CHANGE_DIR, uuid.uuid4().hex)
    # under column mapping change files store physical names, exactly
    # like data files (_change_type is unmapped and passes through)
    _to_physical(changes, mapping).write.parquet(out)
    return _parquet_files(out)


def _parquet_files(out: str) -> list[str]:
    """The canonical paths of the parquet part files one write job
    staged under ``out``, sorted."""
    return sorted(
        _canon(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )


def _refuse_change_clash(schema_cols: Sequence[str]) -> None:
    """A table column named ``_change_type`` would be shadowed inside
    recorded change files (and mis-delivered by the stream) — refuse
    ``change_files=True`` on such tables, mirroring the read-side
    reserved-name guards."""
    if "_change_type" in schema_cols:
        raise ValueError(
            "change_files=True on a table whose schema already contains "
            "_change_type — the recorded change set could not be told "
            "apart from the data column; rename it first"
        )


def _identity_cols(df: DataFrame) -> DataFrame:
    """Attach the PHYSICAL row identity — ``__dv_file`` (canonical OS
    path, decoded from the scan's ``_metadata.file_path`` URI) and
    ``__dv_pos`` (``_metadata.row_index``, the row's position within
    its file) — the coordinates deletion vectors address rows by.

    Decode rather than re-encode: manifests store canonical OS paths
    (:func:`_canon`) and the scan echoes them back as ``file:`` URIs,
    so stripping the scheme + URL-decoding recovers the exact manifest
    string. A literal ``+`` is legal and unencoded in a URI path but
    ``url_decode`` (java.net.URLDecoder) would turn it into a space —
    escape it to ``%2B`` first, which round-trips correctly."""
    from pyspark.sql import functions as F

    raw = F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
    return df.withColumn(
        _DV_FILE, F.url_decode(F.replace(raw, F.lit("+"), F.lit("%2B")))
    ).withColumn(_DV_POS, F.col("_metadata.row_index"))


def _dv_frame(spark: SparkSession, m: dict) -> DataFrame | None:
    """The snapshot's deletion vectors as a (file, pos) DataFrame, or
    None when the manifest carries none. Read under the sidecars' one
    fixed schema: parquet schema inference would launch a Spark job on
    every DV-applying scan."""
    dvs = m.get("dv_files") or []
    if not dvs:
        return None
    return spark.read.schema(_DV_SCHEMA).parquet(*dvs)


def _live_scan(
    spark: SparkSession,
    m: dict,
    files: Sequence[str] | None = None,
    identity: bool = False,
) -> DataFrame:
    """Scan of (a subset of) a manifest's data files with the recorded
    schema AND the snapshot's deletion vectors applied — the ONE
    definition of "the rows of this snapshot" that every reader and
    every copy-on-write scan routes through, so a merge-on-read delete
    is invisible to all of them (merge/COW-delete rewrites materialize
    only live rows, which is what folds DVs away).

    The DV application is a left-anti join on (file, pos): the DV side
    is O(deleted rows) and AQE broadcasts it while it is small (the
    GDPR-trickle case); a mass delete's DV legitimately shuffles —
    still O(deleted), never O(table). DV rows addressing files outside
    ``files`` (a scoped scan) or files a later commit rewrote (stale
    entries carried by reference) simply never match — same
    harmless-staleness argument as the chained Bloom index.

    ``identity=True`` keeps the (__dv_file, __dv_pos) physical row
    coordinates on the result (internal writers use them)."""
    from pyspark.sql import functions as F

    flist = list(m["files"] if files is None else files)
    df = _recorded_reader(spark, m).parquet(*flist)
    dv = _dv_frame(spark, m)
    if dv is None and not identity:
        return df
    clash = [c for c in (_DV_FILE, _DV_POS) if c in df.columns]
    if clash:
        raise ValueError(
            f"table columns collide with reserved DV identity names {clash}"
        )
    df = _identity_cols(df)
    if dv is not None:
        df = df.join(
            dv,
            (F.col(_DV_FILE) == dv["file"]) & (F.col(_DV_POS) == dv["pos"]),
            "left_anti",
        )
    return df if identity else df.drop(_DV_FILE, _DV_POS)


def _rebuild_bloom_index(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    version: int,
    geometry: tuple[int, int] | None = None,
) -> str:
    """Full index (re)build for ``version``: an explicit ``geometry``
    wins; otherwise INHERIT the most recent recorded (m_bits, k) before
    ``version`` — an overwrite or restore on a table with a tuned index
    must not silently reset it to defaults, and the walk-back (newest
    usable index dir, one listdir) means an unindexed intermediate
    commit cannot break the inheritance either. No prior index and no
    override: library defaults."""
    if geometry is None:
        m = load_manifest(table_dir, version)
        kphys = _phys_path(_col_mapping(m), key_col)
        idx_root = os.path.join(table_dir, "_index", f"bloom_{kphys}")
        for pv in reversed([x for x in _entry_versions(idx_root) if x < version]):
            p = _usable_index_params(table_dir, kphys, pv)
            if p is not None:
                geometry = p["m_bits"], p["k"]
                break
        else:
            return write_bloom_index(spark, table_dir, key_col, version=version)
    return write_bloom_index(
        spark, table_dir, key_col, version=version,
        m_bits=int(geometry[0]), k=int(geometry[1]),
    )


def _last_txn_version(
    table_dir: str, app: str, branch: str | None = None
) -> int | None:
    """Highest ``txn_version`` any retained manifest records for
    ``app`` (the Delta ``txnAppId``/``txnVersion`` idempotence
    lookup). Walks the retained chain newest-first and RETURNS ON THE
    FIRST HIT — the common case (a live stream checking its previous
    batch) reads one manifest. Vacuum bounds the walk AND the memory:
    a txn recorded only in a dropped manifest is forgotten, so keep
    the retention window longer than the longest possible replay gap
    (the same caveat Delta documents for its txn retention)."""
    for v in reversed(_version_numbers(table_dir, branch)):
        t = load_manifest(table_dir, v, branch).get("txn")
        if t and t.get("app") == app:
            return int(t["version"])
    return None


def _envelopes(rows) -> dict:
    """``{file: {col: [min, max]}}`` from ``(file, col, min, max)``
    footer rows — the one shape both footer readers record. Unknown
    envelopes are omitted: the pruning reader treats a missing entry
    as "cannot skip"."""
    out: dict[str, dict] = {}
    for f, c, lo, hi in rows:
        if lo is not None and hi is not None:
            out.setdefault(_canon(f), {})[c] = [lo, hi]
    return out


def _stats_for_files(
    spark: SparkSession, files: Sequence[str], cols: Sequence[str]
) -> dict:
    """Per-file ``{col: [min, max]}`` envelopes for ``files``, read by
    the DISTRIBUTED footer operator (``parquet_footer_stats``,
    non-strict) — the table-wide audit path (:func:`verify_table`
    re-derives every recorded envelope through it). Commits never call
    this: they describe their own staged files on the driver
    (:func:`_staged_footers`)."""
    from ..operators.lake import parquet_footer_stats

    if not files or not cols:
        return {}
    return _envelopes(
        (r["file"], r["column"], r["min_val"], r["max_val"])
        for r in parquet_footer_stats(
            spark, list(files), list(cols), strict=False
        ).collect()
    )


def _staged_footers(
    files: Sequence[str], cols: Sequence[str] = ()
) -> tuple[int, dict]:
    """``(row count, {file: {col: [min, max]}})`` of a commit's freshly
    STAGED files, read from their parquet footers on the driver with
    the same kernel the distributed operator runs
    (``operators.lake.footer_kernel``, non-strict) — no Spark job, one
    footer read per file. A commit stages O(output partitions) files,
    so this is O(increment) metadata reads; only committed task
    attempts' files exist under the staging dir, so a retried task is
    never counted twice."""
    from ..operators.lake import footer_kernel

    read = footer_kernel(list(cols), strict=False)
    footers = {f: read(f) for f in files}
    return sum(n for n, _ in footers.values()), _envelopes(
        (f, c, lo, hi)
        for f, (_, rows) in footers.items()
        for c, _nv, _nulls, lo, hi in rows
    )


def _phys_stats_cols(m: dict | None) -> list[str]:
    """A manifest's ``stats_cols`` as the PHYSICAL names/dotted paths
    its staged files store. Recorded envelopes are keyed by them
    (frozen across renames, so rename_column never invalidates them);
    ``stats_cols`` itself stays logical (top-level or dotted struct
    leaf) and translates here."""
    if not m or not m.get("stats_cols"):
        return []
    cm = _col_mapping(m)
    return [_phys_path(cm, c) for c in m["stats_cols"]]


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_PART_SHADOW = "__part_"
_PART_MAX_VALUES = 4096


def _norm_part_value(v) -> str | None:
    """Canonical string form of a partition probe value — must agree
    with how :func:`_stage_partitioned` dir-encodes (a Spark
    ``CAST(col AS STRING)`` on the shadow column): booleans lowercase,
    ints/dates/strings via ``str``. Floats/doubles are refused as
    partition columns precisely because their string forms don't
    round-trip portably."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _stage_partitioned(
    df: DataFrame,
    data_dir: str,
    cols: Sequence[str],
    mapping: dict | None = None,
) -> tuple[list[str], dict[str, dict]]:
    """Stage ``df`` hive-partitioned by ``cols`` under ``data_dir`` in
    ONE write job and return ``(files, {file: {col: str|None}})``. The
    directory key is a SHADOW string copy (``__part_<col>=<value>``) so
    the real column stays inside every data file — reads of explicit
    leaf files (how every snapshot scan works here) stay uniform with
    unpartitioned commits, and partition discovery never has to run.
    The per-file value map is parsed back from the staged paths (hive
    %-escaping undone; the hive null sentinel maps to ``None``). A
    refused layout (too many value tuples) removes ``data_dir``.

    ``cols`` are LOGICAL names; the shadow dir keys AND the returned
    value map are keyed by the columns' frozen PHYSICAL names — the
    partition layout is physical-addressed end to end (like recorded
    stats and Bloom indexes), which is what lets :func:`rename_column`
    rename a partition column as a metadata-only commit: dir names and
    recorded maps never mention the logical name at all."""
    from pyspark.sql import functions as F

    staged = _to_physical(df, mapping)
    phys = _phys_names(mapping)
    pcols = [phys.get(c, c) for c in cols]
    shadows = []
    for p in pcols:
        s = f"{_PART_SHADOW}{p}"
        staged = staged.withColumn(s, _qcol(p).cast("string"))
        shadows.append(s)
    staged.write.partitionBy(*shadows).parquet(data_dir)
    files: list[str] = []
    parts: dict[str, dict] = {}
    for root, _dirs, names in os.walk(data_dir):
        rel = os.path.relpath(root, data_dir)
        vals: dict[str, str | None] = {}
        for seg in rel.split(os.sep):
            key, eq, raw = seg.partition("=")
            if eq and key.startswith(_PART_SHADOW):
                raw = unquote(raw)
                vals[key[len(_PART_SHADOW):]] = (
                    None if raw == _HIVE_NULL else raw
                )
        for n in names:
            if not n.endswith(".parquet"):
                continue
            p = _canon(os.path.join(root, n))
            files.append(p)
            parts[p] = {c: vals.get(c) for c in pcols}
    files.sort()
    n_values = len({tuple(v.items()) for v in parts.values()})
    if n_values > _PART_MAX_VALUES:
        import shutil

        shutil.rmtree(data_dir, ignore_errors=True)
        raise ValueError(
            f"partition_by produced {n_values} distinct value tuples "
            f"(max {_PART_MAX_VALUES}) — hive partitioning is for "
            "low-cardinality columns; cluster + stats_cols (or a Bloom "
            "index) is the high-cardinality layout"
        )
    return files, parts


def _validate_partition_cols(df: DataFrame, cols: Sequence[str]) -> None:
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DateType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    ok = (
        StringType, IntegerType, LongType, ShortType, ByteType,
        BooleanType, DateType,
    )
    types = {f.name: f.dataType for f in df.schema.fields}
    shadow_clash = [n for n in types if n.startswith(_PART_SHADOW)]
    if shadow_clash:
        raise ValueError(
            f"columns {shadow_clash} collide with the reserved partition "
            f"shadow prefix {_PART_SHADOW!r}"
        )
    for c in cols:
        if c not in types:
            raise ValueError(f"partition column {c!r} not in schema")
        if not isinstance(types[c], ok):
            raise ValueError(
                f"partition column {c!r} has type {types[c].simpleString()} "
                "— partition values must dir-encode losslessly "
                "(string/integral/boolean/date)"
            )


def _partition_candidates(m: dict, scope: dict | None) -> list[str] | None:
    """Files of manifest ``m`` that CAN hold rows matching the
    partition-scope equalities (``{col: [values...]}``), from the
    recorded per-file value map — the DML file-skipping pass. Returns
    ``None`` when nothing is skippable (no scope, no recorded
    partitioning, or no scoped column is a partition column) so callers
    scan everything. Unmapped files (COW-rewritten) are always
    candidates — conservative, never wrong. Metadata-only: zero I/O.
    Scope keys are LOGICAL column names; the recorded layout is keyed
    by frozen PHYSICAL names, so a renamed partition column keeps
    skipping under its new name."""
    if not scope:
        return None
    pcols = set(m.get("partition_cols") or [])
    pmap = m.get("partitions") or {}
    phys = _phys_names(_col_mapping(m))
    usable = {
        phys.get(c, c): {_norm_part_value(v) for v in vals}
        for c, vals in scope.items()
        if phys.get(c, c) in pcols
    }
    for want in usable.values():
        if "" in want:
            # hive dir-encoding conflates '' with NULL (see the pruned
            # read): None-recorded files may hold ''-rows the ANDed
            # predicate matches, so they stay candidates
            want.add(None)
    if not usable or not pmap:
        return None
    out = []
    for f in m["files"]:
        rec = pmap.get(_canon(f))
        if rec is None or all(
            rec.get(c) in want for c, want in usable.items()
        ):
            out.append(f)
    return out


def _scoped_cond(predicate, partition_scope: dict | None):
    """Compose the DML predicate with the partition scope: the scope IS
    part of the predicate (ANDed in), so correctness can never depend
    on the file skipping it also enables — a scope that the candidates
    pass happens to match is a fast path, a scope the caller got wrong
    just deletes/updates fewer rows than they imagined, loudly visible
    in the result counts. ``predicate=None`` with a scope is the
    partition-DML form (``DELETE WHERE dt = '2024-01-01'``)."""
    from pyspark.sql import functions as F

    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    if partition_scope:
        for c, vals in sorted(partition_scope.items()):
            clause = F.col(c).isin(list(vals))
            cond = clause if cond is None else cond & clause
    if cond is None:
        raise ValueError(
            "DML needs a predicate, a partition_scope, or both"
        )
    return cond


def _refuse_nondeterministic(scan: DataFrame, cond, op: str) -> None:
    """Copy-on-write DML evaluates its condition twice: once in the
    aggregation that finds and counts the touched files, and again in
    the rewrite. A nondeterministic condition (``rand() < 0.5``) would
    pick different rows each time, so the committed file set and
    ``n_rows`` would not describe the rows the rewrite kept. Refuse it
    before any job runs. The verdict is Catalyst's ``deterministic`` of
    the ANALYZED condition: a function named in a SQL string or an
    unresolved Column is only known once it is resolved. Analysis
    launches no job."""
    analyzed = scan.filter(cond)._jdf.queryExecution().analyzed()
    if not analyzed.condition().deterministic():
        raise ValueError(
            f"{op}: copy-on-write evaluates the condition twice, so it must "
            f"be deterministic; got {analyzed.condition().sql()} (use "
            "mode='mor', which evaluates it once)"
        )


def _contract_refusal(
    reader,
    files: Sequence[str],
    constraints: dict[str, str],
    generated: Sequence[tuple[str, str]],
) -> str | None:
    """Enforce the table contract on a commit's STAGED files in ONE
    aggregation: per CHECK constraint the rows where it is FALSE **or
    NULL** (SQL CHECK semantics), and per caller-supplied generated
    column the rows that disagree with its derivation (a wrong ``dt``
    would silently corrupt partition pruning). ``reader`` reads the
    staged files under the commit's logical names. Returns the refusal
    message for :func:`_commit_ops` ``refuse``, or None."""
    cc_items = sorted(constraints.items())
    if not files or not (cc_items or generated):
        return None
    from pyspark.sql import functions as F

    aggs = [
        F.sum(F.when(F.coalesce(F.expr(cexpr), F.lit(False)), 0).otherwise(1))
        .cast("long")
        .alias(f"__viol_{i}")
        for i, (_, cexpr) in enumerate(cc_items)
    ] + [
        F.sum(F.when(F.col(gname).eqNullSafe(F.expr(gexpr)), 0).otherwise(1))
        .cast("long")
        .alias(f"__gen_{i}")
        for i, (gname, gexpr) in enumerate(generated)
    ]
    row = reader.parquet(*files).agg(*aggs).first()
    bad = {
        cname: int(row[f"__viol_{i}"])
        for i, (cname, _) in enumerate(cc_items)
        if row[f"__viol_{i}"]
    }
    gen_bad = {
        gname: int(row[f"__gen_{i}"])
        for i, (gname, _) in enumerate(generated)
        if row[f"__gen_{i}"]
    }
    msgs = []
    if bad:
        msgs.append(
            f"CHECK constraint violation: {bad} (constraints: "
            f"{ {c: constraints[c] for c in bad} })"
        )
    if gen_bad:
        derivations = dict(generated)
        msgs.append(
            f"generated-column mismatch: {gen_bad} (derivations: "
            f"{ {g: derivations[g] for g in gen_bad} })"
        )
    return "commit refused, nothing staged — " + "; ".join(msgs) if msgs else None


def write_version(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    mode: str = "overwrite",
    index_cols: Sequence[str] = (),
    index_geometry: dict[str, tuple[int, int]] | None = None,
    index_max_chain: int = 8,
    merge_schema: bool = False,
    branch: str | None = None,
    txn_app: str | None = None,
    txn_version: int | None = None,
    stats_cols: Sequence[str] = (),
    partition_by: Sequence[str] | None = (),
    check_constraints: dict[str, str] | None = None,
    generated_cols: dict[str, str] | None = None,
    change_files: Sequence[str] | None = None,
    record_changes: bool = False,
) -> int:
    """Commit ``df`` as the next version of the table; returns the new
    version number. ``mode='overwrite'`` → the snapshot is exactly
    ``df``; ``mode='append'`` → the snapshot is the previous version's
    files plus ``df``'s (no rewrite of existing data — append commits
    cost O(increment), never O(table)).

    ``branch``: commit onto that branch's chain instead of main
    (:func:`create_branch` first — an unknown name is loud, never an
    implicit fork). Append priors, schema-on-write, and conflict
    semantics all apply against the BRANCH head. Bloom ``index_cols``
    are refused on branch commits (indexes are main-lineage; build them
    on the publish commit).

    Schema-on-write: an append whose schema differs from the table's
    recorded schema is REFUSED (see :func:`_evolved_schema`) unless
    ``merge_schema=True``, which commits the union schema — added
    columns are nullable and prior files read as NULL for them under
    the recorded-schema scan; per-column type changes are always
    refused. Overwrites replace the schema outright (the snapshot is
    exactly ``df``).

    ``index_cols``: columns to build the at-rest per-file Bloom index
    for after the commit (index maintenance riding the write path, the
    Delta/Iceberg pattern) — :func:`read_version_pruned` then prunes
    equality lookups on them with zero extra read-side work.

    ``index_geometry``: optional ``{col: (m_bits, k)}`` Bloom tuning
    per index column. Without it, a rebuild (overwrite or first
    commit) INHERITS the prior version's recorded geometry when one
    exists — a tuned index survives every commit mode, not just
    append/merge/delete chaining. Passing a geometry that differs from
    the recorded one on an append deliberately forces a full rebuild
    at the new geometry (a chain must be geometry-uniform to probe
    correctly), which is the supported re-tune path.

    ``index_max_chain``: compaction threshold for chained incremental
    maintenance (see :func:`maintain_bloom_index`).

    ``stats_cols``: record per-file min/max envelopes for these
    NUMERIC columns IN THE MANIFEST (the Delta add-file-stats pattern):
    the commit pays one footer pass over its NEW files only —
    O(increment) — and every later :func:`read_version_pruned` range
    probe prunes from the recorded envelopes driver-side with ZERO
    data-file I/O, instead of re-reading footers per query (at 100k
    files that footer pass IS the query latency). Once set, the column
    list is INHERITED by every later append at this call site (the
    recorded ``stats_cols`` carries forward), so coverage never decays
    silently; carried files keep their recorded entries by value. A
    file without an entry (e.g. rewritten by a COW path that didn't
    re-record) degrades to the footer pass for that file only —
    conservative, never wrong.

    ``partition_by``: hive-partition the commit's data files by these
    LOW-CARDINALITY columns (the Delta/Iceberg partition-column
    pattern): one write job lays each distinct value tuple out in its
    own files, and the manifest records the EXACT per-file value map —
    so an equality probe on a partition column
    (:func:`read_version_pruned` ``keys``) skips non-matching files
    from the manifest alone: zero footer I/O, zero Bloom probes, no
    false positives, and it works on STRING columns where min/max
    envelopes span the domain. The real column stays inside every data
    file (the directory key is a shadow string copy), so snapshot scans
    are uniform with unpartitioned commits. The column list is a table
    layout property: appends inherit it when omitted and are REFUSED
    when they name different columns; pass ``partition_by=None`` on an
    overwrite to deliberately de-partition. Files a later copy-on-write
    path rewrites lose their map entries and degrade to
    kept-conservatively (same contract as recorded stats);
    ``optimize_table`` or any fresh partitioned commit re-records them.
    Float/double partition columns are refused (their string forms
    don't round-trip), and a commit that would create more than
    4096 distinct value tuples (``_PART_MAX_VALUES``) is refused — that is
    clustering's job, not partitioning's. File-count note: each write
    task emits one file per distinct value it holds, so
    ``df.repartition(*partition_by)`` first (one task per value) gives
    the fewest files; a hash-scattered df on k values and t tasks can
    stage up to k×t.

    ``generated_cols`` (``{name: sql_expr}``): GENERATED columns (Delta
    generated columns / Iceberg hidden partitioning): the manifest
    records the derivation, and every commit DERIVES the column when
    the incoming frame lacks it — so ``partition_by`` a generated
    ``dt = CAST(date_trunc('day', ts) AS DATE)`` and no writer can
    ever forget the daily layout. A frame that DOES carry the column
    is VALIDATED against the expression instead (null-safe equality,
    counted in the same staging aggregation as the CHECK constraints —
    a mismatching commit refuses loudly, because a wrong ``dt`` would
    silently corrupt partition pruning). Appends inherit the recorded
    derivations and cannot change them; pass ``generated_cols={}`` on
    an overwrite to clear. DML rewrites carry the recorded derivations
    without re-validating (an UPDATE could break one) —
    ``verify_table(deep=True)`` audits the head (``generated_match``)
    as the backstop, same policy as CHECK constraints.

    ``check_constraints`` (``{name: sql_expr}``): TABLE-LEVEL CHECK
    constraints (Delta ``ALTER TABLE ... ADD CONSTRAINT CHECK``): the
    manifest records them, and every later append — from ANY writer, a
    constraint is the table's contract, not one pipeline's — is
    validated against all recorded constraints before it can commit. A
    row where the expression is FALSE **or NULL** is a violation (SQL
    CHECK semantics); a violating commit is REFUSED loudly with
    per-constraint counts and its staged files are discarded.
    Enforcement costs nothing extra: the violation counts ride the
    same single aggregation pass over the staged increment that
    already computes the commit's row count. Appends INHERIT the
    recorded set (pass nothing); changing the set on an append is
    refused — grow it with :func:`add_constraint` (which validates
    HISTORY, the part an append can't vouch for) or shrink it with
    :func:`drop_constraint`; an overwrite records exactly what it was
    passed (its snapshot replaces the contract like it replaces the
    schema). DML paths (merge/update) carry the recorded set forward
    but do not re-validate rewritten rows — :func:`verify_table`
    ``deep=True`` audits the head against every recorded constraint as
    the backstop (documented scope, same honesty rule as the stats
    degrade path).

    ``txn_app`` + ``txn_version``: IDEMPOTENT writes (the Delta
    ``txnAppId``/``txnVersion`` contract — what makes a foreachBatch
    sink exactly-once): the manifest records the pair, and a commit
    whose ``txn_version`` is ≤ the app's last recorded one is SKIPPED
    — nothing stages, the already-applied version number returns, and
    the caller cannot tell a replay from the original success (which
    is the point: a restarted stream re-offers its last batch and the
    table stays exactly-once). The check re-runs inside the commit
    loop, so two racing writers with the same pair cannot both land.
    Versions must be monotonically increasing per app (streaming batch
    ids are). Vacuum retention bounds replay memory — see
    :func:`_last_txn_version`.

    ``change_files``: a PRE-STAGED commit-time change-file list
    (parquet paths from :func:`_write_change_files`) to record under
    the manifest's ``change_files`` key — the caller asserts these are
    the commit's exact row-level change set. Pass ``[]`` for a rewrite
    that changes NOTHING logically (what :func:`optimize_table` does:
    the layout changed, the content didn't, so the recorded change set
    is empty and the change stream passes the commit with zero rows).
    The DML paths stage their own change sets from a boolean flag; this
    parameter is the low-level hook for orchestrators that already
    know theirs.

    ``record_changes=True``: the commit COMPUTES and records its own
    change set (mutually exclusive with ``change_files``). An append
    records its staged rows as inserts — O(increment). An overwrite
    records the replaced snapshot's live rows as deletes plus the new
    rows as inserts — inherently O(old + new), because that IS what an
    overwrite changes (the reference's daily full re-extract shape,
    ``dags/bigbookapi.py:163-177``, becomes exactly streamable this
    way); it requires the SAME column set as the prior snapshot (an
    overwrite that reshapes the schema has no well-defined row-level
    feed — diff the snapshots with the batch :func:`read_changes`
    instead) and PINS the base version: a concurrent commit raises
    :class:`CommitConflict` instead of recording a change set computed
    against the wrong prior."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if record_changes and change_files is not None:
        raise ValueError(
            "record_changes=True computes the commit's change set — "
            "mutually exclusive with a pre-staged change_files list"
        )
    if (txn_app is None) != (txn_version is None):
        raise ValueError("txn_app and txn_version come together")
    if txn_app is not None:
        applied = _last_txn_version(table_dir, txn_app, branch)
        if applied is not None and int(txn_version) <= applied:
            # replay of an already-committed batch: indistinguishable
            # success, nothing staged
            return _version_numbers(table_dir, branch)[-1]
    # the head manifest, read ONCE: every inherited property (generated
    # columns, schema, partition layout, constraints, mapping, stats
    # columns) and the start of the txn race window come from it
    nums = _version_numbers(table_dir, branch)
    head = load_manifest(table_dir, nums[-1], branch) if nums else None
    head0 = head["version"] if head else 0
    if branch is not None:
        if index_cols:
            raise ValueError(
                "index_cols on a branch commit — Bloom indexes are "
                "main-lineage; build them when the branch publishes"
            )
        if head is None:
            raise ValueError(
                f"branch {branch!r} not found (have "
                f"{sorted(branches(table_dir))}) — create_branch() first"
            )
    # generated columns: explicit set when given ({} clears), else
    # inherited; DERIVE missing ones onto df before any schema check
    # or staging sees it (present ones validate in the staging agg)
    recorded_gen = dict((head or {}).get("generated_cols") or {})
    if generated_cols is None:
        eff_gen = recorded_gen
    else:
        eff_gen = dict(generated_cols)
        if mode == "append" and recorded_gen and eff_gen != recorded_gen:
            raise ValueError(
                "append cannot change the recorded generated columns "
                f"{sorted(recorded_gen)} — overwrite to re-derive the table"
            )
    gen_validate: list[tuple[str, str]] = []
    if eff_gen:
        from pyspark.sql import functions as F

        gen_validate = [
            (g, eff_gen[g]) for g in sorted(eff_gen) if g in df.columns
        ]
        for gname in sorted(eff_gen):
            if gname not in df.columns:
                df = df.withColumn(gname, F.expr(eff_gen[gname]))
    if record_changes:
        # refuse BEFORE anything stages (vacuum never reclaims an
        # uncommitted staging); the overwrite base-pin + reshape check
        # happens below, against the head manifest
        _refuse_change_clash(df.columns)
    # dotted stats/index paths validate BEFORE staging too (loud-early;
    # inherited stats_cols were validated at their own record time)
    _refuse_repeated_leaf(df.schema, stats_cols, "stats_cols")
    _refuse_repeated_leaf(df.schema, index_cols, "index_cols")
    rc_base: dict | None = None
    rc_renames: dict[str, str] = {}
    if mode == "append" and (head or {}).get("schema") is not None:
        # fail-fast schema check against the current latest BEFORE any
        # data stages; build() re-derives against the commit-time prior
        _evolved_schema(head["schema"], df.schema, merge_schema)
    # effective partition columns: explicit list, else inherited from
    # the table's recorded layout (None = explicitly unpartitioned);
    # appends may not silently re-partition the table
    eff_part_by = list(partition_by) if partition_by else []
    recorded_pc = list((head or {}).get("partition_cols") or [])
    # the recorded layout (partition_cols + per-file value maps) is
    # keyed by frozen PHYSICAL names — rename_column never touches it;
    # the API speaks logical, so translate through the head mapping
    _pc_logi = _logical_names(_col_mapping(head))
    _pc_phys = _phys_names(_col_mapping(head))
    if partition_by is not None and not eff_part_by:
        eff_part_by = [_pc_logi.get(p, p) for p in recorded_pc]
    if (
        mode == "append"
        and recorded_pc
        and [_pc_phys.get(c, c) for c in eff_part_by] != recorded_pc
    ):
        raise ValueError(
            f"append partition_by {eff_part_by} != the table's recorded "
            "partition columns "
            f"{[_pc_logi.get(p, p) for p in recorded_pc]} — partitioning "
            "is a table layout property; overwrite to re-partition"
        )
    if eff_part_by:
        _validate_partition_cols(df, eff_part_by)
    data_dir = os.path.join(table_dir, "data", uuid.uuid4().hex)
    # effective CHECK constraints: explicit set when given ({} clears),
    # else inherited from the recorded contract (appends and OPTIMIZE
    # overwrites must not silently shed the table's invariants)
    recorded_cc = dict((head or {}).get("constraints") or {})
    if check_constraints is None:
        eff_cc = recorded_cc
    else:
        eff_cc = dict(check_constraints)
        if mode == "append" and recorded_cc and eff_cc != recorded_cc:
            raise ValueError(
                "append cannot change the recorded CHECK constraints "
                f"{sorted(recorded_cc)} — add_constraint() (validates "
                "history) or drop_constraint() are the contract-change "
                "paths"
            )
    # column mapping: inherited and evolved with the commit — appends
    # extend it (new columns get fresh field ids), overwrites rebuild
    # it carrying ids for persisting logical names; staged data files
    # store PHYSICAL names either way
    if record_changes and mode == "overwrite" and head is not None:
        # pin the base: the recorded delete set is computed against it,
        # so a racing commit must CommitConflict, not rebase — and a
        # reshaping overwrite (names OR types) has no well-defined
        # row-level change set, so it refuses loudly BEFORE staging
        # (an un-refused reshape would fail the change-set union later
        # with the staging already on disk and unreclaimable)
        rc_base = head
        if rc_base.get("schema") is not None:
            prior_list = json.loads(rc_base["schema"])["fields"]
            new_list = json.loads(df.schema.json())["fields"]
            prior_fields = {f["name"]: f["type"] for f in prior_list}
            new_fields = {f["name"]: f["type"] for f in new_list}
            if prior_fields != new_fields:
                # a PURE RENAME reshape has a well-defined row-level
                # feed (round 14, closing the asymmetry with the
                # stream's id-based translation): same arity, every
                # persisting name keeps its type, and the leftovers
                # pair 1:1 by position with identical types. The pairs
                # become MAPPED renames — field ids and physical names
                # carry, the delete side records under the NEW names —
                # so the change stream and CDF see one field across
                # the overwrite, exactly as if rename_column had run
                # first. Anything else (type change, arity change,
                # nested reshape, mismatched leftover types) refuses.
                rm_old = [
                    f for f in prior_list if f["name"] not in new_fields
                ]
                rm_new = [
                    f for f in new_list if f["name"] not in prior_fields
                ]
                persisting_ok = all(
                    new_fields[n] == t
                    for n, t in prior_fields.items()
                    if n in new_fields
                )
                if (
                    len(prior_list) == len(new_list)
                    and persisting_ok
                    and len(rm_old) == len(rm_new)
                    and rm_old
                    and all(
                        o["type"] == n["type"]
                        for o, n in zip(rm_old, rm_new)
                    )
                ):
                    rc_renames = {
                        o["name"]: n["name"]
                        for o, n in zip(rm_old, rm_new)
                    }
                else:
                    raise ValueError(
                        "record_changes=True on an overwrite that "
                        "reshapes the schema (prior "
                        f"{ {k: prior_fields[k] for k in sorted(prior_fields)} } "
                        f"vs incoming "
                        f"{ {k: new_fields[k] for k in sorted(new_fields)} }) — "
                        "only a PURE RENAME reshape (same types, "
                        "leftover columns pairing 1:1 by position) has "
                        "a well-defined row-level change set; diff the "
                        "snapshots with read_changes() instead, or "
                        "conform the frame first"
                    )
    prior_map = _col_mapping(head)
    if rc_renames and prior_map is None and head.get("schema"):
        from pyspark.sql.types import StructType as _PST0

        # the rename-overwrite needs field ids to carry identity across
        # the commit — mint the mapping from the prior schema, exactly
        # like rename_column's auto-enable (physical = prior logical,
        # which is what every existing file stores)
        prior_map = _init_mapping(
            _PST0.fromJson(json.loads(head["schema"]))
        )
    if prior_map is not None:
        from pyspark.sql.types import StructField as _PSF
        from pyspark.sql.types import StructType as _PST

        prior_schema = (
            _PST.fromJson(json.loads(head["schema"]))
            if head.get("schema")
            else None
        )
        if rc_renames:
            # re-key the renamed logicals so the rebuild carries their
            # ids + frozen physicals (and their nested state) under the
            # new names instead of retiring them as drop+add
            _rm_fields = dict(prior_map["fields"])
            for _o, _n in rc_renames.items():
                if _o in _rm_fields:
                    _rm_fields[_n] = _rm_fields.pop(_o)
            prior_map = {**prior_map, "fields": _rm_fields}
            if prior_schema is not None:
                prior_schema = _PST(
                    [
                        _PSF(
                            rc_renames.get(f.name, f.name),
                            f.dataType,
                            f.nullable,
                        )
                        for f in prior_schema.fields
                    ]
                )
        eff_map = (
            _extend_mapping(prior_map, df.schema)
            if mode == "append"
            else _rebuild_mapping(prior_map, df.schema, prior_schema)
        )
    else:
        eff_map = None
    if eff_part_by:
        new_files, new_parts = _stage_partitioned(
            df, data_dir, eff_part_by, eff_map
        )
    else:
        _to_physical(df, eff_map).write.parquet(data_dir)
        new_files, new_parts = _parquet_files(data_dir), {}
    # stats columns: explicit, else inherited from the table's latest
    # recorded list (coverage must not decay because one writer forgot)
    eff_stats_cols = list(stats_cols) or list(
        (head or {}).get("stats_cols") or []
    )
    # the row count and the footer envelopes both come from the staged
    # files' own footers, read on the driver — no Spark job. Envelopes
    # are recorded under PHYSICAL names/dotted paths (staged files
    # store physicals, and the keys stay valid across any number of
    # renames); a dotted stats col addresses a struct LEAF
    # (``rating.average``)
    n_new, new_stats = _staged_footers(
        new_files, [_phys_path(eff_map, c) for c in eff_stats_cols]
    )
    schema_json = df.schema.json()
    # mapped read when column mapping is on: staged files hold physical
    # names, constraint/generated/change-set exprs logical ones
    staged_reader = _recorded_reader(
        spark, {"schema": schema_json, "column_mapping": eff_map}
    )
    refusal = _contract_refusal(staged_reader, new_files, eff_cc, gen_validate)
    staged_cf: list[str] | None = None
    if record_changes and refusal is None:
        from pyspark.sql import functions as F

        pieces = []
        if new_files:
            # read the STAGED files back (not df) so the recorded
            # inserts are exactly the committed rows even under a
            # nondeterministic incoming frame
            pieces.append(
                staged_reader.parquet(*new_files).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        if mode == "overwrite" and rc_base is not None and rc_base["files"]:
            # the replaced snapshot's live rows leave the table; under
            # a rename-overwrite they record under the NEW logical
            # names (one field id, one name, across the whole feed)
            gone = _live_scan(spark, rc_base)
            if rc_renames:
                gone = gone.select(
                    *[
                        _qcol(c).alias(rc_renames.get(c, c))
                        for c in gone.columns
                    ]
                )
            pieces.append(
                gone.withColumn("_change_type", F.lit("delete"))
            )
        if pieces:
            ch = pieces[0]
            for p in pieces[1:]:
                ch = ch.unionByName(p)
            staged_cf = _write_change_files(spark, ch, table_dir, eff_map)
        else:
            staged_cf = []
    if change_files is not None:
        staged_cf = list(change_files)

    def build(prior: dict | None) -> dict:
        if txn_app is not None:
            # race re-check, scoped to commits that landed AFTER the
            # pre-stage check (the loser of a same-txn race rebuilds
            # here and must not re-apply the winner's batch)
            for rv in _version_numbers(table_dir, branch):
                if rv <= head0:
                    continue
                t = load_manifest(table_dir, rv, branch).get("txn")
                if (
                    t
                    and t.get("app") == txn_app
                    and int(t["version"]) >= int(txn_version)
                ):
                    raise _TxnAlreadyApplied(
                        f"txn ({txn_app!r}, {txn_version}) already applied "
                        f"by v{rv}"
                    )
        # an append carries the prior head (files, DVs, their stats and
        # partition entries); an overwrite carries nothing — its
        # snapshot is exactly df, which is how compacting a MOR table
        # folds DVs away. The contract is the effective one either way.
        base = prior if mode == "append" else None
        schema = schema_json
        if (base or {}).get("schema") is not None:
            schema = _evolved_schema(base["schema"], df.schema, merge_schema)
        _ppn = _phys_names(eff_map)
        return _child_body(
            base,
            mode=mode,
            files=(base["files"] if base else []) + new_files,
            n_rows=(base["n_rows"] if base else 0) + n_new,
            schema=schema,
            column_mapping=eff_map,
            stats_cols=eff_stats_cols,
            new_stats=new_stats,
            # recorded layout is PHYSICAL-keyed (frozen across renames)
            partition_cols=[_ppn.get(c, c) for c in eff_part_by],
            new_parts=new_parts,
            constraints=eff_cc,
            generated_cols=eff_gen,
            txn=(
                {"app": txn_app, "version": int(txn_version)}
                if txn_app is not None
                else None
            ),
            change_files=staged_cf,
        )

    try:
        return _commit_ops(
            table_dir,
            build,
            # record_changes pins the overwrite's base: its recorded
            # delete set is computed against it
            base_version=(
                (rc_base["version"] if rc_base else 0)
                if record_changes and mode == "overwrite"
                else None
            ),
            staged=(new_files, staged_cf if record_changes else None),
            spark=spark,
            index=_Index(
                index_cols,
                new_files if mode == "append" else None,
                index_geometry,
                index_max_chain,
            ),
            branch=branch,
            refuse=refusal,
        )
    except _TxnAlreadyApplied:
        return _version_numbers(table_dir, branch)[-1]


def _commit(
    table_dir: str,
    build: Callable[[dict | None], dict],
    branch: str | None = None,
) -> int:
    """Atomic manifest commit. ``build(prior_manifest_or_None)`` returns
    the manifest body (``mode``/``files``/``n_rows``) computed against
    the CURRENT latest version; the commit point is ``os.link`` of a
    fully-written temp file onto the final v{N} path — link fails with
    EEXIST if another writer won the version number (the loser loops
    and rebuilds against the longer chain), and readers can never
    observe a half-written manifest because content is durable before
    the name exists. ``build`` may raise to abort instead of rebasing
    (:func:`_commit_ops`, the only caller, raises :class:`CommitConflict`
    for a stale copy-on-write base). ``branch`` commits into that
    branch's own chain with identical atomicity."""
    os.makedirs(_manifest_root(table_dir, branch), exist_ok=True)
    while True:
        nums = _version_numbers(table_dir, branch)
        prior = load_manifest(table_dir, nums[-1], branch) if nums else None
        body = build(prior)
        next_v = (prior["version"] + 1) if prior else 1
        manifest = {"version": next_v, "committed_at": time.time(), **body}
        if not _atomic_link_json(_manifest_path(table_dir, next_v, branch), manifest):
            continue  # lost the race — rebuild against the new chain
        return next_v


def _child_body(
    base: dict | None,
    *,
    mode: str,
    files: Sequence[str],
    n_rows: int,
    new_stats: dict | None = None,
    new_parts: dict | None = None,
    **changes,
) -> dict:
    """The manifest body of a commit that descends from ``base``: every
    TABLE property of ``base`` rides along unless ``changes`` names it.
    The properties are the tuple below: the recorded schema and column
    mapping, the deletion vectors, the stats and partition layouts, the
    CHECK constraints and the generated columns. A property added to
    that tuple is carried by every commit. ``stats`` and ``partitions``
    keep only the entries of surviving ``files`` (a rewritten file's
    entry goes with it; the readers treat a missing entry as "cannot
    skip"), and ``new_stats``/``new_parts`` add the commit's own new
    files. A property passed as None leaves the body (an overwrite that
    de-partitions, a drop that empties ``stats_cols``). Any other key of
    ``changes`` describes this one commit (``txn``, ``change_files``,
    the ``renamed``/``dropped``/``published_*``/``cloned_from``/
    ``restored_from`` markers), is never carried, and is omitted when
    None."""
    props = {
        k: changes.pop(k) if k in changes else (base or {}).get(k)
        for k in (
            "schema", "column_mapping", "dv_files", "stats_cols", "stats",
            "partition_cols", "partitions", "constraints", "generated_cols",
        )
    }
    keep = set(files)
    body = {
        "mode": mode,
        "files": list(files),
        "n_rows": n_rows,
        "schema": props["schema"],
        "dv_files": list(props["dv_files"] or []),
    }
    if props["column_mapping"]:
        body["column_mapping"] = props["column_mapping"]
    for cols, entries, new in (
        ("stats_cols", "stats", new_stats),
        ("partition_cols", "partitions", new_parts),
    ):
        if props[cols]:
            body[cols] = list(props[cols])
            body[entries] = {
                f: e for f, e in (props[entries] or {}).items() if f in keep
            } | (new or {})
    for k in ("constraints", "generated_cols"):
        if props[k]:
            body[k] = dict(props[k])
    body.update((k, v) for k, v in changes.items() if v is not None)
    return body


class _Index(NamedTuple):
    """Bloom-index upkeep after a commit (:func:`_commit_ops`): for each
    of ``cols``, chain a link holding ``new_files`` onto ``prior`` (by
    default the version the commit replaced) — O(increment) — or, with
    ``new_files=None``, rebuild the index at the inherited geometry."""

    cols: Sequence[str]
    new_files: Sequence[str] | None
    geometry: dict[str, tuple[int, int]] | None = None
    max_chain: int = 8
    prior: int | None = None


def _commit_ops(
    table_dir: str,
    build: dict | Callable[[dict | None], dict],
    *,
    base_version: int | None = None,
    staged: Sequence[Sequence[str] | None] = (),
    spark: SparkSession | None = None,
    index: _Index | None = None,
    branch: str | None = None,
    refuse: str | None = None,
    conflict: str = "re-run the operation against the new head",
) -> int:
    """The one commit path of every lake operation; returns the new
    version. ``build`` is the manifest body, or a function of the prior
    head that returns it (an append rebases onto whatever head it lands
    on). Owns three things:

    - optimistic concurrency: with ``base_version`` (0 = no table yet)
      the commit refuses with :class:`CommitConflict` when the head is
      not that version — a copy-on-write body computed against a stale
      snapshot never lands;
    - the staged lifecycle: ``staged`` lists the commit's staged data,
      DV and change-file lists; a conflict, a ``ValueError`` (``refuse``
      raises one before the commit: a contract violation found on the
      staged files) or a replayed txn discards them all, because no
      manifest will ever reference them and vacuum sweeps only what
      manifests name;
    - index maintenance after the commit (``index``, see
      :class:`_Index`)."""

    def checked(prior: dict | None) -> dict:
        cur = prior["version"] if prior else 0
        if base_version is not None and cur != base_version:
            raise CommitConflict(
                f"table advanced past v{base_version} (latest: v{cur}) — "
                + conflict
            )
        return build(prior) if callable(build) else build

    try:
        if refuse is not None:
            raise ValueError(refuse)
        v = _commit(table_dir, checked, branch)
    except (CommitConflict, ValueError, _TxnAlreadyApplied):
        for files in staged:
            _discard_staged(files)
        raise
    for col in index.cols if index else ():
        geometry = (index.geometry or {}).get(col)
        if index.new_files is not None and v > 1:
            maintain_bloom_index(
                spark, table_dir, col, version=v,
                new_files=index.new_files,
                prior_version=v - 1 if index.prior is None else index.prior,
                max_chain=index.max_chain, geometry=geometry,
            )
        else:
            _rebuild_bloom_index(spark, table_dir, col, v, geometry)
    return v


def _local_path(uri: str) -> str:
    """``_metadata.file_path`` is a URI (``file:///x/y``); manifests
    store canonical OS paths (see :func:`_canon`). Normalize for set
    membership."""
    p = urlparse(uri)
    return _canon(unquote(p.path) if p.scheme else uri)


def _untouched_files(base_files: Sequence[str], touched: set[str]) -> list[str]:
    """Carried = base files not rewritten. Every scanned file came from
    ``base_files``, so a touched path that fails canonical membership
    means the path normalization broke — fail loudly rather than carry
    a file whose rows were ALSO rewritten (silent row duplication)."""
    canon_base = {_canon(f): f for f in base_files}
    stray = touched - set(canon_base)
    if stray:
        raise RuntimeError(
            f"touched files not in the base manifest ({sorted(stray)[:3]}…) "
            "— path canonicalization mismatch; aborting instead of "
            "duplicating rows"
        )
    return [f for c, f in canon_base.items() if c not in touched]


def _discard_staged(files: Sequence[str]) -> None:
    """Remove a conflict-aborted commit's staged data subdirectory —
    nothing references it (the manifest never committed) and vacuum()
    only sweeps files dropped manifests reference, so without this the
    orphans would never be reclaimable. A partitioned staging keeps its
    files in ``__part_<col>=<value>`` subdirectories: the whole commit
    dir above them goes."""
    import shutil

    if files:
        d = os.path.dirname(files[0])
        while os.path.basename(d).startswith(_PART_SHADOW):
            d = os.path.dirname(d)
        shutil.rmtree(d, ignore_errors=True)


def _write_data_files(
    df: DataFrame,
    table_dir: str,
    mapping: dict | None = None,
    stats_cols: Sequence[str] = (),
) -> tuple[list[str], int, dict]:
    """Stage ``df`` under a fresh immutable commit subdirectory in ONE
    write job; return (file list, row count, ``{file: {col: [min,
    max]}}`` over the PHYSICAL ``stats_cols``). Both come from one
    driver-side read of the staged files' footers
    (:func:`_staged_footers`) — the write job is the only Spark job.
    ``mapping``: stage under PHYSICAL names (column mapping — see
    :func:`_to_physical`).

    A ZERO-row frame stages nothing: Spark emits one empty part file
    to carry the schema, but recording it would cost a dead file in
    the manifest forever — carried through every later commit, probed
    by every stats/Bloom pass (an empty file has no row groups, so it
    degrades covered reads to a footer pass) — and the manifest's own
    ``schema`` JSON already carries the schema for file-less
    snapshots, which every reader handles. The common producer is the
    partition-DML form (``delete_version(predicate=None,
    partition_scope=...)``: every scanned row dies, zero survivors)."""
    data_dir = os.path.join(table_dir, "data", uuid.uuid4().hex)
    _to_physical(df, mapping).write.parquet(data_dir)
    files = _parquet_files(data_dir)
    n, stats = _staged_footers(files, stats_cols)
    if files and n == 0:
        import shutil

        shutil.rmtree(data_dir, ignore_errors=True)
        return [], 0, {}
    return files, n, stats


def merge_version(
    spark: SparkSession,
    incoming: DataFrame,
    table_dir: str,
    keys: Sequence[str],
    order_by: Sequence = (),
    base_version: int | None = None,
    index_cols: Sequence[str] = (),
    index_geometry: dict[str, tuple[int, int]] | None = None,
    index_max_chain: int = 8,
    merge_schema: bool = False,
    delete_col: str | None = None,
    change_files: bool = False,
) -> dict:
    """Copy-on-write MERGE (upsert) into a versioned table.

    Only data files that contain at least one incoming key are
    rewritten; every other file is carried into the new manifest
    untouched — the Delta/Iceberg cost profile, O(files touched) +
    O(increment), never O(table). Contrast ``sinks/merge.py``'s
    staging-swap merge, which rewrites the whole table per run (fine
    for the reference's dimension tables, ruinous at 100 TB).

    Semantics match :func:`merge_parquet`: per ``keys``, incoming rows
    beat existing rows, ties broken by ``order_by`` first. New keys
    insert. Commits as the next version with snapshot isolation;
    raises :class:`CommitConflict` if the table advanced past
    ``base_version`` (default: latest at read time) before the commit —
    optimistic concurrency, nothing is half-applied.

    ``index_geometry`` / ``index_max_chain``: Bloom-index tuning and
    compaction threshold, see :func:`write_version`.

    Schema-on-write applies here exactly as on append: an incoming
    frame whose columns differ from the table's recorded schema is
    REFUSED unless ``merge_schema=True``, in which case both sides are
    conformed to the UNION schema before merging — existing rows KEEP
    columns the increment omits (they are never narrowed away), and
    incoming rows NULL-fill them; per-column type changes are always
    refused. ``keys`` must all be present in ``incoming``.

    ``delete_col``: name of a boolean column on ``incoming`` marking
    DELETE DIRECTIVES — the Delta ``WHEN MATCHED AND src._deleted THEN
    DELETE`` arm, which is what lets a change-data-feed apply as one
    MERGE (:func:`replicate_changes`). A directive removes its key
    from the table; a directive for an absent key is a no-op (the
    idempotent re-apply case); when the SAME increment carries both a
    data row and a directive for one key, the data row wins (a CDC
    update's delete+insert pair nets to the upsert). The flag column
    is stripped before the schema gate and never lands in the table;
    NULL flags read as False.

    ``change_files=True`` records the commit's EXACT row-level change
    set as ``_change_data`` parquet in the same commit (the Delta
    commit-time change-file pattern, same key as the other DML paths):
    the NET multiset diff of the touched files' live rows vs their
    merged replacement — an update surfaces as its key's old image
    (``_change_type='delete'``) plus new image ('insert'), a pure
    insert as its row, a delete directive as the old image alone, and
    an incoming row IDENTICAL to the existing one records NOTHING (no
    logical change — the recorded set always equals what the batch
    :func:`read_changes` multiset diff would compute). O(touched rows
    + increment), never O(table); carried files are never scanned. The
    streaming source then crosses the merge commit instead of refusing
    the file rewrite, and :func:`read_changes` serves the range from
    the recorded sets with zero snapshot I/O — MERGE-maintained tables
    (the CDC ingestion shape) feed the change stream end-to-end.

    Returns ``{"version", "files_rewritten", "files_carried",
    "n_rows"}`` (+ ``"change_files_added"`` when ``change_files=True``).
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import keep_first_dedup

    key_cols = list(keys)
    missing_keys = [k for k in key_cols if k not in incoming.columns]
    if missing_keys:
        raise ValueError(f"incoming is missing merge key columns {missing_keys}")
    # delete directives ride an internal 3-level rank: 0 = incoming
    # data row, 1 = incoming delete directive, 2 = existing row — one
    # sort chain gives "data beats directive beats existing" per key
    rank_attached = False
    if delete_col is not None:
        if delete_col not in incoming.columns:
            raise ValueError(
                f"delete_col {delete_col!r} not in incoming columns"
            )
        if "__cdc_rank" in incoming.columns:
            raise ValueError("incoming collides with reserved __cdc_rank")
        incoming = incoming.withColumn(
            "__cdc_rank",
            F.when(
                F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ).drop(delete_col)
        rank_attached = True
    data_cols = [c for c in incoming.columns if c != "__cdc_rank"]
    if change_files:
        # refuse BEFORE anything stages (bootstrap write included)
        _refuse_change_clash(data_cols)
    if not _version_numbers(table_dir):
        first = incoming
        if rank_attached:
            # bootstrap commit: directives against a not-yet-existing
            # table are no-ops by the absent-key rule
            first = incoming.filter(F.col("__cdc_rank") == 0).drop(
                "__cdc_rank"
            )
        v = write_version(
            spark, first, table_dir, index_cols=index_cols,
            index_geometry=index_geometry, index_max_chain=index_max_chain,
            record_changes=change_files,
        )
        m = load_manifest(table_dir, v)
        result = {
            "version": v,
            "files_rewritten": 0,
            "files_carried": 0,
            "n_rows": m["n_rows"],
        }
        if change_files:
            result["change_files_added"] = len(m.get("change_files") or [])
        return result
    base = load_manifest(table_dir, base_version)
    _refuse_repeated_leaf_m(base, index_cols, "index_cols")
    # schema-on-write (same gate as write_version's append): refuse a
    # divergent increment unless merge_schema=True, then conform BOTH
    # sides to the union schema — without this, select(*incoming.columns)
    # silently stripped evolved columns from every rewritten row AND
    # committed the narrowed schema over the carried files
    conform = None
    if base.get("schema") is not None:
        union_json = _evolved_schema(
            base["schema"], incoming.select(*data_cols).schema, merge_schema
        )
        from pyspark.sql.types import StructType

        union = StructType.fromJson(json.loads(union_json))

        def conform(df, _u=union, extra=()):  # noqa: ANN001 — local helper
            have = set(df.columns)
            return df.select(
                *[
                    F.col(f.name)
                    if f.name in have
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in _u.fields
                ],
                *[F.col(c) for c in extra if c in have],
            )

        incoming = conform(
            incoming, extra=("__cdc_rank",) if rank_attached else ()
        )
        data_cols = [c for c in incoming.columns if c != "__cdc_rank"]
        if change_files:
            # the union schema can re-introduce a base-held column the
            # incoming frame lacked — re-check the effective column set
            _refuse_change_clash(data_cols)
    if base["files"]:
        # _live_scan: recorded-schema (an evolved table's plain scan
        # takes one footer's schema and silently drops columns) AND
        # the snapshot's deletion vectors applied — a MOR-deleted row
        # must neither mark its file touched nor resurrect in the
        # rewrite. identity=True keeps the canonical file path.
        cur = _live_scan(spark, base, identity=True)
        # ONE aggregation finds the files holding a matched key AND
        # counts their live rows (the rows the rewrite replaces): a
        # left join against the distinct incoming keys marks hits, and
        # the per-file group keeps count + max(hit). AQE broadcasts the
        # key side when the increment is small (the common CDC case);
        # the collect is bounded by the table's FILE count, not rows.
        per_file = (
            cur.join(
                incoming.select(*key_cols)
                .distinct()
                .withColumn("__merge_hit", F.lit(1)),
                key_cols,
                "left",
            )
            .groupBy(_DV_FILE)
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.max("__merge_hit").alias("__hit"),
            )
            .filter(F.col("__hit").isNotNull())
            .collect()
        )
        touched = {r[_DV_FILE] for r in per_file}
        n_touched = sum(r["__n"] for r in per_file)
    else:
        # already-empty snapshot (a delete removed every row and staged
        # no part files): the merge is a pure insert against zero rows
        touched, n_touched = set(), 0
    carried = _untouched_files(base["files"], touched)
    if rank_attached:
        inc = incoming.withColumnRenamed("__cdc_rank", "__src")
    else:
        inc = incoming.withColumn("__src", F.lit(0))
    old_rows: DataFrame | None = None
    if touched:
        ex = _live_scan(spark, base, files=sorted(touched))
        old_rows = conform(ex) if conform is not None else ex.select(*data_cols)
        unioned = inc.unionByName(old_rows.withColumn("__src", F.lit(2)))
    else:
        unioned = inc
    # incoming data (0) beats a same-key delete directive (1) beats
    # existing rows (2); order_by still takes precedence for the
    # last-writer-wins use case
    order = list(order_by) + [F.asc("__src")]
    merged = keep_first_dedup(unioned, key_cols, order)
    if rank_attached:
        # a key whose winner is a directive leaves the table
        merged = merged.filter(F.col("__src") != 1)
    merged = merged.drop("__src")
    base_map = _col_mapping(base)
    eff_map = (
        _extend_mapping(base_map, merged.schema) if base_map else None
    )
    cf: list[str] | None = None
    if change_files:
        # ONE evaluation of the merged frame, PERSISTED, feeds both the
        # committed data files and the recorded change set — order_by
        # ties (row_number nondeterminism) must not let them diverge
        merged = merged.persist()
    try:
        new_files, n_new, new_stats = _write_data_files(
            merged, table_dir, eff_map, _phys_stats_cols(base)
        )
        if change_files:
            # the commit's exact change set = NET multiset diff of the
            # touched files' old live rows vs their merged replacement
            # (carried files contribute nothing by construction) — the
            # same netting read_changes' fallback computes, recorded at
            # commit time over O(touched + increment) rows only
            signed = merged.withColumn("__cdf_delta", F.lit(1))
            if old_rows is not None:
                signed = signed.unionByName(
                    old_rows.withColumn("__cdf_delta", F.lit(-1))
                )
            cf = _write_change_files(
                spark,
                _net_change_rows(signed, list(merged.columns)),
                table_dir,
                eff_map,
            )
    finally:
        if change_files:
            merged.unpersist()
    # carried files keep needing their DVs; entries addressing the
    # rewritten files go stale-but-harmless (fresh uuid paths never
    # reuse a dead identity) — compaction reclaims
    v = _commit_ops(
        table_dir,
        _child_body(
            base,
            mode="merge",
            files=carried + new_files,
            n_rows=base["n_rows"] - n_touched + n_new,
            schema=merged.schema.json(),
            column_mapping=eff_map,
            new_stats=new_stats,
            change_files=cf,
        ),
        base_version=base["version"],
        staged=(new_files, cf),
        spark=spark,
        # copy-on-write commit: carried files keep their prior index
        # rows, only the rewritten increment is hashed
        index=_Index(index_cols, new_files, index_geometry, index_max_chain),
    )
    return {
        "version": v,
        "files_rewritten": len(touched),
        "files_carried": len(carried),
        "n_rows": base["n_rows"] - n_touched + n_new,
        **({} if cf is None else {"change_files_added": len(cf)}),
    }


def delete_version(
    spark: SparkSession,
    table_dir: str,
    predicate=None,
    base_version: int | None = None,
    mode: str = "cow",
    index_cols: Sequence[str] = (),
    index_geometry: dict[str, tuple[int, int]] | None = None,
    index_max_chain: int = 8,
    partition_scope: dict[str, Sequence] | None = None,
    change_files: bool = False,
) -> dict:
    """DELETE on a versioned table: rows where ``predicate`` is TRUE
    leave the table; rows where it is FALSE or NULL stay (SQL DELETE
    semantics). ``predicate`` is a Column or SQL string. Two cost
    profiles, selected by ``mode`` (the Delta/Iceberg pair):

    - ``"cow"`` (copy-on-write, default): files containing at least one
      matching row are REWRITTEN without their matching rows; with a
      clustered layout (:mod:`operators/zorder`) a selective delete
      touches few files. Cost O(rows in touched files) — right when
      deletes are bulky or reads must stay scan-pure. It evaluates the
      predicate twice (find the touched files, then rewrite them), so a
      nondeterministic predicate such as ``rand() < 0.5`` raises
      ``ValueError`` before any job runs.
    - ``"mor"`` (merge-on-read, deletion vectors): NO data file is
      rewritten — the matching rows' physical coordinates (file, row
      position) land in a DV sidecar parquet under ``_dv/``, an
      O(deleted rows) commit, and every read applies the DVs as an
      anti-join (:func:`_live_scan`). Right for the GDPR-style trickle
      where COW would rewrite a whole file per single-row delete. DVs
      accumulate across MOR commits (append-only sidecars, snapshot
      isolation preserved); any overwrite/compaction commit of the
      read-back snapshot folds them away (the rewrite materializes
      live rows only), and ``vacuum`` sweeps DV sidecars no retained
      manifest references.

    Same optimistic-concurrency commit as :func:`merge_version` either
    way. ``index_geometry`` / ``index_max_chain``: see
    :func:`write_version`; a MOR commit's index maintenance is the
    zero-new-files chain link (the file set is unchanged).

    ``partition_scope`` (``{col: [values...]}``): partition-DML file
    skipping (how Delta executes ``DELETE WHERE dt = ...``): the scope
    is ANDed INTO the predicate — so it can never change which rows
    qualify beyond what it states — and files whose RECORDED partition
    value (write_version ``partition_by``) can't match are carried
    WITHOUT BEING OPENED. A partition-scoped delete on a 100 TB table
    scans the scoped partitions only; with ``predicate=None`` the scope
    alone is the delete condition. Unmapped files still scan
    (conservative). The result's ``files_scanned`` reports the actual
    scan set.

    ``change_files=True`` additionally records the commit's exact
    row-level change set (the deleted rows, ``_change_type='delete'``)
    as ``_change_data`` parquet referenced by the manifest — the Delta
    commit-time change-file pattern. O(deleted rows) extra write, and
    it is what lets the streaming source
    (:mod:`sources.versioned_stream`) cross a COW delete instead of
    refusing it, and :func:`read_changes` diff the range without
    scanning any snapshot file.

    Returns ``{"version", "files_rewritten", "files_carried",
    "files_scanned", "n_deleted", "n_rows"}`` (+ ``"dv_files_added"``
    for MOR, + ``"change_files_added"`` when ``change_files=True``).
    """
    from pyspark.sql import functions as F

    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be cow|mor, got {mode!r}")
    cond = _scoped_cond(predicate, partition_scope)
    base = load_manifest(table_dir, base_version)
    _refuse_repeated_leaf_m(base, index_cols, "index_cols")
    cand = _partition_candidates(base, partition_scope)
    scan_files = base["files"] if cand is None else cand
    if mode == "mor":
        return _delete_version_mor(
            spark, table_dir, cond, base,
            index_cols, index_geometry, index_max_chain,
            scan_files=scan_files,
            change_files=change_files,
        )
    if base["files"] and scan_files:
        # _live_scan: recorded schema + existing DVs applied — an
        # already-MOR-deleted row must neither mark its file touched
        # nor resurrect in the rewrite; the scan is scoped to the
        # partition candidates (out-of-scope files can't match the
        # scoped predicate by construction)
        cur = _live_scan(spark, base, files=sorted(scan_files), identity=True)
        _refuse_nondeterministic(cur, cond, "delete_version")
        schema_json = base.get("schema") or _recorded_reader(
            spark, base
        ).parquet(*base["files"]).schema.json()
        # ONE aggregation finds the touched files and counts each
        # one's matching live rows (a NULL predicate matches nothing).
        # Filtering first keeps the predicate pushdown: only row groups
        # whose stats can match are decoded. The collect is bounded by
        # the scanned FILE count
        per_file = cur.filter(cond).groupBy(_DV_FILE).count().collect()
        touched = {r[_DV_FILE] for r in per_file}
        n_deleted = sum(r["count"] for r in per_file)
    elif base["files"]:
        # every file is out of scope: no row can match — no-op commit
        schema_json = base.get("schema") or _recorded_reader(
            spark, base
        ).parquet(*base["files"]).schema.json()
        touched, n_deleted = set(), 0
    else:
        # already-empty snapshot (a prior delete removed every row and
        # staged no part files): the delete is a no-op commit
        schema_json = base.get("schema")
        touched, n_deleted = set(), 0
    carried = _untouched_files(base["files"], touched)
    cf: list[str] | None = None
    if change_files:
        _refuse_change_clash(
            [f["name"] for f in json.loads(schema_json)["fields"]]
            if schema_json
            else []
        )
        cf = []
    if touched and change_files:
        # ONE evaluation of the predicate, materialized as a match
        # column and PERSISTED, feeds both the kept-row data files and
        # the recorded delete set — a nondeterministic predicate must
        # not let the recorded change set diverge from the committed
        # snapshot (same rule as update_version's persisted images)
        scope = _live_scan(spark, base, files=sorted(touched)).withColumn(
            "__del_match", F.coalesce(cond, F.lit(False))
        ).persist()
        try:
            kept = scope.filter(~F.col("__del_match")).drop("__del_match")
            new_files, _, new_stats = _write_data_files(
                kept, table_dir, _col_mapping(base), _phys_stats_cols(base)
            )
            deleted_rows = (
                scope.filter(F.col("__del_match"))
                .drop("__del_match")
                .withColumn("_change_type", F.lit("delete"))
            )
            cf = _write_change_files(
                spark, deleted_rows, table_dir, _col_mapping(base)
            )
            # the recorded delete set IS the deleted rows of this one
            # evaluation: its footers give the exact count
            n_deleted = _staged_footers(cf)[0]
        finally:
            scope.unpersist()
    elif touched:
        # the rewrite evaluates the predicate again; the count above
        # still holds because only a deterministic predicate got here
        scope = _live_scan(spark, base, files=sorted(touched))
        kept = scope.filter(~F.coalesce(cond, F.lit(False)))
        new_files, _, new_stats = _write_data_files(
            kept, table_dir, _col_mapping(base), _phys_stats_cols(base)
        )
    else:
        new_files, new_stats = [], {}

    # carried files keep their DVs; rewritten files' entries go
    # stale-but-harmless (see merge_version)
    v = _commit_ops(
        table_dir,
        _child_body(
            base,
            mode="delete",
            files=carried + new_files,
            n_rows=base["n_rows"] - n_deleted,
            schema=schema_json,
            new_stats=new_stats,
            change_files=cf,
        ),
        base_version=base["version"],
        staged=(new_files, cf),
        spark=spark,
        index=_Index(index_cols, new_files, index_geometry, index_max_chain),
    )
    return {
        "version": v,
        "files_rewritten": len(touched),
        "files_carried": len(carried),
        "files_scanned": len(scan_files),
        "n_deleted": n_deleted,
        "n_rows": base["n_rows"] - n_deleted,
        **({} if cf is None else {"change_files_added": len(cf)}),
    }


def overwrite_partitions(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    partition_scope: dict[str, Sequence] | None = None,
    base_version: int | None = None,
    index_cols: Sequence[str] = (),
    index_geometry: dict[str, tuple[int, int]] | None = None,
    index_max_chain: int = 8,
    change_files: bool = False,
) -> dict:
    """Dynamic partition overwrite (Delta ``replaceWhere`` / Hive
    ``INSERT OVERWRITE PARTITION`` — the daily-backfill pattern): ONE
    atomic commit whose snapshot is "the base with the scoped
    partitions' rows replaced by ``df``". Requires a partitioned table
    (:func:`write_version` ``partition_by``).

    ``partition_scope`` (``{col: [values...]}``) names what is
    replaced; omitted, it is derived from ``df``'s distinct partition
    values — but only for SINGLE-column layouts (a per-column scope on
    a multi-column layout is a cross product, which could silently
    replace combinations the incoming data doesn't refill; name them
    explicitly there). Rows of ``df`` OUTSIDE the scope are REFUSED
    before anything stages — replaceWhere's contract: the write may
    only touch what it declared it replaces (the guard that makes a
    mis-scoped backfill a loud error instead of silent row loss).

    Cost is O(replaced + incoming), never O(table): mapped files whose
    recorded value is in scope are DROPPED without being opened;
    mapped out-of-scope files are CARRIED without being opened;
    only UNMAPPED files (COW-rewritten earlier, value unknown) are
    scanned — their out-of-scope live rows rewrite into fresh files,
    their in-scope rows fall away with the replacement. Recorded CHECK
    constraints are enforced on the staged increment (same single-pass
    accounting as write_version); stats/partition-map coverage is
    re-recorded for the new files; carried files keep their entries
    and their DV applicability. ``index_cols`` maintain the at-rest
    Bloom index as an O(increment) chain link over the rewritten +
    replacement files, exactly like the COW DML paths. Same
    optimistic-concurrency commit as every DML (stale base →
    :class:`CommitConflict`, staging discarded).

    ``change_files=True`` records the commit's exact change set
    (the replaced partitions' outgoing live rows as deletes + the
    incoming rows as inserts) as ``_change_data`` parquet in the same
    commit — O(replaced + incoming), and the streaming source then
    crosses the backfill instead of refusing it.

    Returns ``{"version", "files_replaced", "files_carried",
    "files_rewritten", "files_added", "n_replaced", "n_rows"}`` (+
    ``"change_files_added"`` when ``change_files=True``)."""
    from pyspark.sql import functions as F

    base = load_manifest(table_dir, base_version)
    _refuse_repeated_leaf_m(base, index_cols, "index_cols")
    pcols = list(base.get("partition_cols") or [])
    if not pcols:
        raise ValueError(
            "overwrite_partitions needs a partitioned table "
            "(write_version partition_by) — an unpartitioned overwrite "
            "is write_version(mode='overwrite')"
        )
    # recorded layout is PHYSICAL-keyed; the API (scope keys, incoming
    # frame) speaks logical — translate both ways once
    _op_phys = _phys_names(_col_mapping(base))
    _op_logi = _logical_names(_col_mapping(base))
    p_logical = [_op_logi.get(p, p) for p in pcols]
    gen = dict(base.get("generated_cols") or {})
    gen_validate = [(g, gen[g]) for g in sorted(gen) if g in df.columns]
    if gen:
        for gname in sorted(gen):
            if gname not in df.columns:
                df = df.withColumn(gname, F.expr(gen[gname]))
    if change_files:
        # refuse BEFORE anything stages — every other pre-commit abort
        # in this function discards its stagings, and vacuum's data
        # sweep is manifest-driven (it can never reclaim an uncommitted
        # staging this raise would otherwise leak)
        _refuse_change_clash(df.columns)
    if partition_scope is None:
        if len(p_logical) != 1:
            raise ValueError(
                f"derived scope on a multi-column layout {p_logical} "
                "would be a per-column cross product — pass "
                "partition_scope explicitly to say exactly what is "
                "replaced"
            )
        vals = [
            r[0] for r in df.select(p_logical[0]).distinct().collect()
        ]
        if len(vals) > _PART_MAX_VALUES:
            raise ValueError(
                f"incoming data spans {len(vals)} partition values "
                f"(max {_PART_MAX_VALUES})"
            )
        if not vals:
            raise ValueError(
                "incoming data is empty and no partition_scope was given "
                "— nothing says what to replace; pass the scope explicitly"
            )
        partition_scope = {p_logical[0]: vals}
    unknown = sorted(set(partition_scope) - set(p_logical))
    if unknown:
        raise ValueError(
            f"scope columns {unknown} are not partition columns "
            f"{p_logical}"
        )
    for c, vals in partition_scope.items():
        if any(v is None or _norm_part_value(v) == "" for v in vals):
            raise ValueError(
                f"partition_scope[{c!r}] names the empty/null partition — "
                "hive dir-encoding conflates '' with NULL (one sentinel "
                "dir), so an exact partition swap there is ambiguous; "
                "use delete_version + write_version with explicit "
                "NULL-aware predicates instead"
            )
    _validate_partition_cols(df, p_logical)
    scope_cond = _scoped_cond(None, partition_scope)
    n_out = df.filter(~F.coalesce(scope_cond, F.lit(False))).count()
    if n_out:
        raise ValueError(
            f"{n_out} incoming rows fall OUTSIDE the replaced scope "
            f"{ {c: sorted(map(str, v)) for c, v in partition_scope.items()} } "
            "— replaceWhere may only write what it declared it replaces"
        )
    pmap = base.get("partitions") or {}
    want = {
        _op_phys.get(c, c): {_norm_part_value(v) for v in vals}
        for c, vals in partition_scope.items()
    }

    def _in_scope(rec: dict) -> bool:
        return all(rec.get(c) in w for c, w in want.items())

    replaced = [
        f
        for f in base["files"]
        if _canon(f) in pmap and _in_scope(pmap[_canon(f)])
    ]
    unmapped = [f for f in base["files"] if _canon(f) not in pmap]
    carried = [
        f
        for f in base["files"]
        if f not in set(replaced) and f not in set(unmapped)
    ]
    # stage the replacement through the partitioned writer (map entries
    # for the new files) FIRST: a refused layout then has nothing else
    # to discard. The recorded CHECK/generated contract is enforced on
    # it in one aggregation (mapped reader: staged files hold physical
    # names, constraint exprs logical ones); a refusal discards the
    # staging through the commit path before any live-row count or
    # rewrite runs
    new_files, new_parts = _stage_partitioned(
        df,
        os.path.join(table_dir, "data", uuid.uuid4().hex),
        p_logical,
        _col_mapping(base),
    )
    refusal = _contract_refusal(
        _recorded_reader(spark, base),
        new_files,
        base.get("constraints") or {},
        gen_validate,
    )
    if refusal is not None:
        _commit_ops(table_dir, {}, staged=(new_files,), refuse=refusal)
    sc = _phys_stats_cols(base)
    n_new, new_stats = _staged_footers(new_files, sc)
    # live rows leaving the table: the replaced partitions' (cheap —
    # exactly the files being dropped) plus unmapped in-scope rows
    n_replaced = (
        _live_scan(spark, base, files=sorted(replaced)).count()
        if replaced
        else 0
    )
    rw_files: list[str] = []
    if unmapped:
        um = _live_scan(spark, base, files=sorted(unmapped))
        n_unmapped_live = um.count()
        keep = um.filter(~F.coalesce(scope_cond, F.lit(False)))
        # the unmapped rewrite's envelopes come back from its own writer
        rw_files, rw_n, rw_stats = _write_data_files(
            keep, table_dir, _col_mapping(base), sc
        )
        n_replaced += n_unmapped_live - rw_n
        new_stats = {**rw_stats, **new_stats}
    cf: list[str] | None = None
    if change_files:
        cf = []
        # outgoing rows: the dropped partitions' live rows (exactly the
        # files being replaced) + unmapped in-scope live rows; incoming
        # rows: the staged replacement (post-generated, exactly what
        # commits). O(replaced + incoming), never O(table).
        gone = None
        if replaced:
            gone = _live_scan(spark, base, files=sorted(replaced))
        if unmapped:
            um_gone = _live_scan(
                spark, base, files=sorted(unmapped)
            ).filter(F.coalesce(scope_cond, F.lit(False)))
            gone = um_gone if gone is None else gone.unionByName(um_gone)
        pieces = []
        if gone is not None:
            pieces.append(gone.withColumn("_change_type", F.lit("delete")))
        if new_files:
            # explicit leaf-file read (the shadow dir key is not
            # inferred) via the mapped reader, so the piece joins the
            # union in LOGICAL names like the live scans
            pieces.append(
                _recorded_reader(spark, base)
                .parquet(*new_files)
                .withColumn("_change_type", F.lit("insert"))
            )
        if pieces:
            changes = pieces[0]
            for p in pieces[1:]:
                changes = changes.unionByName(p, allowMissingColumns=True)
            cf = _write_change_files(
                spark, changes, table_dir, _col_mapping(base)
            )
    v = _commit_ops(
        table_dir,
        # carried files keep needing their DVs; entries addressing
        # dropped/rewritten files go stale-but-harmless
        _child_body(
            base,
            mode="replace_where",
            files=carried + rw_files + new_files,
            n_rows=base["n_rows"] - n_replaced + n_new,
            new_stats=new_stats,
            new_parts=new_parts,
            change_files=cf,
        ),
        base_version=base["version"],
        staged=(new_files, rw_files, cf),
        spark=spark,
        # carried files keep their prior index rows; only the commit's
        # rewritten + replacement files hash (O(increment), same
        # contract as the COW DML paths). Rows indexed for dropped
        # files go stale-but-harmless, as everywhere.
        index=_Index(
            index_cols, rw_files + new_files, index_geometry, index_max_chain
        ),
    )
    return {
        "version": v,
        "files_replaced": len(replaced),
        "files_carried": len(carried),
        "files_rewritten": len(rw_files),
        "files_added": len(new_files),
        "n_replaced": n_replaced,
        "n_rows": base["n_rows"] - n_replaced + n_new,
        **({} if cf is None else {"change_files_added": len(cf)}),
    }


def _delete_version_mor(
    spark: SparkSession,
    table_dir: str,
    cond,
    base: dict,
    index_cols: Sequence[str],
    index_geometry: dict[str, tuple[int, int]] | None,
    index_max_chain: int,
    scan_files: Sequence[str] | None = None,
    change_files: bool = False,
) -> dict:
    """Merge-on-read DELETE body (see :func:`delete_version`
    ``mode='mor'``): one scan finds the matching LIVE rows' physical
    coordinates, one O(deleted rows) parquet write stages the DV
    sidecar, the manifest commit appends it to the snapshot's DV list.
    Zero data files are rewritten — that is the contract the registry
    entry pins as a literal. ``change_files=True`` additionally records
    the deleted rows' full images as ``_change_data`` (the stream reads
    MOR deletes natively from the sidecars, but a uniform change-file
    history lets :func:`read_changes` stay on its O(changed rows) fast
    path across every commit in a range)."""
    from pyspark.sql import functions as F

    cf: list[str] | None = None
    if change_files:
        sch = base.get("schema")
        _refuse_change_clash(
            [f["name"] for f in json.loads(sch)["fields"]] if sch else []
        )
        cf = []
    dv_new: list[str] = []
    n_deleted = 0
    scoped = list(base["files"] if scan_files is None else scan_files)
    if scoped:
        # existing DVs applied: a row deleted by a PRIOR MOR commit
        # must not be re-recorded (double-decrementing n_rows); the
        # scan is scoped to the partition candidates when the caller
        # passed a partition_scope (out-of-scope files can't match the
        # scoped predicate by construction)
        live = _live_scan(spark, base, files=sorted(scoped), identity=True)
        hit = live.filter(cond)
        if change_files:
            # one scan feeds two writes (DV coordinates + change rows)
            hit = hit.persist()
        try:
            dv_new, n_deleted = _write_dv_files(hit, table_dir)
            if dv_new and change_files:
                cf = _write_change_files(
                    spark,
                    hit.drop(_DV_FILE, _DV_POS).withColumn(
                        "_change_type", F.lit("delete")
                    ),
                    table_dir,
                    _col_mapping(base),
                )
        finally:
            if change_files:
                hit.unpersist()
    v = _commit_ops(
        table_dir,
        _child_body(
            base,
            mode="delete_mor",
            files=base["files"],
            n_rows=base["n_rows"] - n_deleted,
            dv_files=(base.get("dv_files") or []) + dv_new,
            change_files=cf,
        ),
        base_version=base["version"],
        staged=(dv_new, cf),
        spark=spark,
        # file set unchanged → the index chains a zero-new-files link
        # (O(1)); probes stay correct because Bloom pruning is
        # file-level and conservative — a file whose every matching
        # row is DV-deleted still qualifies, and the exact filter + DV
        # anti-join discard its rows
        index=_Index(index_cols, [], index_geometry, index_max_chain),
    )
    return {
        "version": v,
        "files_rewritten": 0,
        "files_carried": len(base["files"]),
        "files_scanned": len(scoped),
        "n_deleted": n_deleted,
        "n_rows": base["n_rows"] - n_deleted,
        "dv_files_added": len(dv_new),
        **({} if cf is None else {"change_files_added": len(cf)}),
    }


def _write_dv_files(matched: DataFrame, table_dir: str) -> tuple[list[str], int]:
    """Stage one deletion-vector sidecar — the (file, pos) coordinates
    of ``matched``'s rows (identity columns kept) — under a fresh
    ``_dv/<uuid>/`` in one write job; returns (files, rows), the count
    read from the footers. A sidecar that matched nothing is removed,
    so reads never pay an anti-join for a no-op, and returns ([], 0)."""
    import shutil

    from pyspark.sql import functions as F

    dv_dir = os.path.join(table_dir, _DV_DIR, uuid.uuid4().hex)
    matched.select(
        F.col(_DV_FILE).alias("file"), F.col(_DV_POS).alias("pos")
    ).write.parquet(dv_dir)
    files = _parquet_files(dv_dir)
    n = _staged_footers(files)[0]
    if n == 0:
        shutil.rmtree(dv_dir, ignore_errors=True)
        return [], 0
    return files, n


def update_version(
    spark: SparkSession,
    table_dir: str,
    predicate,
    assignments: dict,
    base_version: int | None = None,
    mode: str = "cow",
    index_cols: Sequence[str] = (),
    index_geometry: dict[str, tuple[int, int]] | None = None,
    index_max_chain: int = 8,
    partition_scope: dict[str, Sequence] | None = None,
    change_files: bool = False,
) -> dict:
    """UPDATE on a versioned table: rows where ``predicate`` is TRUE
    get ``assignments`` (column → Column/SQL-string expression)
    applied; FALSE/NULL rows are untouched (SQL UPDATE semantics).
    Completes the DML set next to :func:`merge_version` (upsert) and
    :func:`delete_version`. Row count and schema are invariants: an
    assignment may only target an EXISTING column, and its value is
    cast to the column's recorded type (ANSI mode makes a lossy cast
    loud at execution, never silent) — adding columns is
    :func:`write_version` ``merge_schema``'s job.

    Two cost profiles, the Delta/Iceberg pair:

    - ``"cow"``: files holding ≥1 matching live row are rewritten with
      the assignments applied; every other file is carried by
      reference. O(rows in touched files) — with a clustered layout a
      selective update touches few files. Like COW delete, it refuses a
      nondeterministic predicate (``ValueError``, before any job runs).
    - ``"mor"``: NO existing file is rewritten — the matched rows'
      coordinates land in a DV sidecar (hiding the old images) and the
      updated images append as new data files, one commit. This is how
      Delta executes DV-enabled UPDATE: O(updated rows) regardless of
      file sizes. Reads need no new machinery — the DV anti-join plus
      the appended files reconstruct the post-update snapshot; any
      overwrite/compaction folds the DVs away.

    Existing DVs are honored on both paths: a MOR-deleted row never
    matches, never resurrects, and never re-records.
    ``partition_scope``: partition-DML file skipping, same contract as
    :func:`delete_version` — the scope is ANDed into the predicate and
    files whose recorded partition value can't match are never opened.
    ``change_files=True`` records the commit's exact change set
    (old images as deletes + new images as inserts — the keyless-CDF
    update convention) as ``_change_data`` parquet in the same commit:
    O(updated rows), and the streaming source then crosses the COW
    update instead of refusing it.
    Returns ``{"version", "files_rewritten", "files_carried",
    "files_added", "files_scanned", "n_updated", "n_rows"}`` (+
    ``"change_files_added"`` when ``change_files=True``)."""
    from pyspark.sql import functions as F

    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be cow|mor, got {mode!r}")
    if not assignments:
        raise ValueError("update_version: empty assignments")
    cond = _scoped_cond(predicate, partition_scope)
    base = load_manifest(table_dir, base_version)
    _refuse_repeated_leaf_m(base, index_cols, "index_cols")
    cand = _partition_candidates(base, partition_scope)
    scan_files = base["files"] if cand is None else cand
    if not base["files"]:
        raise ValueError("update on an empty snapshot — nothing to match")
    schema_json = base.get("schema") or _recorded_reader(spark, base).parquet(
        *base["files"]
    ).schema.json()
    from pyspark.sql.types import StructType

    recorded = StructType.fromJson(json.loads(schema_json))
    types = {f.name: f.dataType for f in recorded.fields}
    unknown = sorted(set(assignments) - set(types))
    if unknown:
        raise ValueError(
            f"update assigns to unknown columns {unknown} (schema has "
            f"{sorted(types)}) — schema changes go through write_version "
            "merge_schema, not UPDATE"
        )
    cf: list[str] | None = None
    if change_files:
        _refuse_change_clash([f.name for f in recorded.fields])
        cf = []

    def apply_assignments(df: DataFrame, condition) -> DataFrame:
        cols = []
        for f in recorded.fields:
            if f.name in assignments:
                a = assignments[f.name]
                expr = F.expr(a) if isinstance(a, str) else a
                cols.append(
                    F.when(condition, expr.cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        return df.select(*cols)

    if mode == "mor":
        # one scan feeds two writes (DV coordinates + updated images):
        # persist the matched slice so the full-table filter runs once;
        # the scan is scoped to the partition candidates (out-of-scope
        # files can't match the scoped predicate by construction)
        matched = (
            _live_scan(spark, base, files=sorted(scan_files), identity=True)
            .filter(cond)
            .persist()
            if scan_files
            else _live_scan(spark, base, identity=True).filter(F.lit(False)).persist()
        )
        new_files, new_stats = [], {}
        try:
            dv_new, n_updated = _write_dv_files(matched, table_dir)
            if dv_new:
                updated = apply_assignments(
                    matched.drop(_DV_FILE, _DV_POS), F.lit(True)
                )
                if change_files:
                    # persisted: the recorded insert images must be the
                    # SAME evaluation the data files committed, even
                    # under a nondeterministic assignment expression
                    updated = updated.persist()
                try:
                    new_files, _, new_stats = _write_data_files(
                        updated,
                        table_dir,
                        _col_mapping(base),
                        _phys_stats_cols(base),
                    )
                    if change_files:
                        cf = _write_change_files(
                            spark,
                            matched.drop(_DV_FILE, _DV_POS)
                            .withColumn("_change_type", F.lit("delete"))
                            .unionByName(
                                updated.withColumn(
                                    "_change_type", F.lit("insert")
                                )
                            ),
                            table_dir,
                            _col_mapping(base),
                        )
                finally:
                    if change_files:
                        updated.unpersist()
        finally:
            matched.unpersist()
        v = _commit_ops(
            table_dir,
            _child_body(
                base,
                mode="update_mor",
                files=base["files"] + new_files,
                n_rows=base["n_rows"],
                schema=schema_json,
                dv_files=(base.get("dv_files") or []) + dv_new,
                new_stats=new_stats,
                change_files=cf,
            ),
            base_version=base["version"],
            staged=(dv_new, new_files, cf),
            spark=spark,
            index=_Index(index_cols, new_files, index_geometry, index_max_chain),
        )
        return {
            "version": v,
            "files_rewritten": 0,
            "files_carried": len(base["files"]),
            "files_added": len(new_files),
            "files_scanned": len(scan_files),
            "n_updated": n_updated,
            "n_rows": base["n_rows"],
            **({} if cf is None else {"change_files_added": len(cf)}),
        }

    if scan_files:
        cur = _live_scan(spark, base, files=sorted(scan_files), identity=True)
        _refuse_nondeterministic(cur, cond, "update_version")
        # ONE aggregation finds the touched files and counts each one's
        # matching rows (a NULL predicate matches nothing); the collect
        # is bounded by the scanned FILE count
        per_file = cur.filter(cond).groupBy(_DV_FILE).count().collect()
        touched = {r[_DV_FILE] for r in per_file}
        n_updated = sum(r["count"] for r in per_file)
    else:
        # every file is out of scope: no row can match — no-op commit
        touched, n_updated = set(), 0
    carried = _untouched_files(base["files"], touched)
    if touched and change_files:
        # one evaluation of the updated images, PERSISTED, feeds both
        # the rewritten data files and the recorded change set — a
        # nondeterministic assignment expression must not let the
        # recorded insert images diverge from the committed rows; this
        # also cuts the touched-file rescans from four to two
        scope = _live_scan(spark, base, files=sorted(touched), identity=True)
        old_images = scope.filter(cond).drop(_DV_FILE, _DV_POS).persist()
        new_images = apply_assignments(old_images, F.lit(True)).persist()
        try:
            n_updated = new_images.count()
            kept = scope.filter(~F.coalesce(cond, F.lit(False))).drop(
                _DV_FILE, _DV_POS
            )
            new_files, _, new_stats = _write_data_files(
                kept.unionByName(new_images),
                table_dir,
                _col_mapping(base),
                _phys_stats_cols(base),
            )
            cf = _write_change_files(
                spark,
                old_images.withColumn("_change_type", F.lit("delete"))
                .unionByName(
                    new_images.withColumn("_change_type", F.lit("insert"))
                ),
                table_dir,
                _col_mapping(base),
            )
        finally:
            old_images.unpersist()
            new_images.unpersist()
    elif touched:
        scope = _live_scan(spark, base, files=sorted(touched), identity=True)
        rewritten = apply_assignments(
            scope, F.coalesce(cond, F.lit(False))
        ).drop(_DV_FILE, _DV_POS)
        new_files, _, new_stats = _write_data_files(
            rewritten, table_dir, _col_mapping(base), _phys_stats_cols(base)
        )
    else:
        new_files, new_stats = [], {}
    v = _commit_ops(
        table_dir,
        _child_body(
            base,
            mode="update",
            files=carried + new_files,
            n_rows=base["n_rows"],
            schema=schema_json,
            new_stats=new_stats,
            change_files=cf,
        ),
        base_version=base["version"],
        staged=(new_files, cf),
        spark=spark,
        index=_Index(index_cols, new_files, index_geometry, index_max_chain),
    )
    return {
        "version": v,
        "files_rewritten": len(touched),
        "files_carried": len(carried),
        "files_added": len(new_files),
        "files_scanned": len(scan_files),
        "n_updated": n_updated,
        "n_rows": base["n_rows"],
        **({} if cf is None else {"change_files_added": len(cf)}),
    }


def replicate_changes(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    keys: Sequence[str],
    to_version: int | None = None,
    bootstrap_cluster_by: Sequence[str] = (),
) -> dict:
    """Incrementally replicate a KEYED versioned table: read the
    source's change data feed since the last applied version
    (:func:`read_changes` — O(changed files)) and apply it to the
    replica as ONE merge with delete directives (:func:`merge_version`
    ``delete_col`` — O(files touched by changed keys)). The CDC
    producer meets the CDC consumer: neither side ever scans its full
    table, which is the entire point of maintaining manifests.

    Feed → merge translation: every feed row becomes an increment row
    flagged ``deleted = (_change_type = 'delete')``; an update's
    delete+insert pair shares its key, and merge's data-beats-directive
    rule nets the pair to the upsert. Requires ``keys`` to actually be
    unique per source snapshot — keyless multiset tables cannot
    replicate by merge (their deletes address occurrences, not keys);
    replicate those by snapshot copy.

    The applied-version cursor persists in ``dst_dir/_cdc_cursor.json``
    (atomic replace). Crash ordering is merge-commit THEN cursor: a
    crash between the two re-applies the same feed next run, and the
    apply is IDEMPOTENT for keyed tables (re-upsert of identical rows,
    re-delete of absent keys). The reverse order could skip changes.

    ``bootstrap_cluster_by``: range-cluster the FIRST (bootstrap)
    commit on these columns — range-scoped source changes then touch
    few replica files on every later apply (merge's O(files holding
    changed keys) scoping needs a layout to exploit). Merge rewrites
    are hash-distributed by key; a long-lived replica re-clusters via
    compaction (operators/lake.py) when skipping degrades, exactly
    like any other table.

    Returns ``{"applied_from", "applied_to", "n_changes",
    "dst_version"}``; a no-op (cursor already at ``to_version``)
    returns with ``dst_version=None``."""
    cursor_path = os.path.join(dst_dir, "_cdc_cursor.json")
    applied = 0
    if os.path.exists(cursor_path):
        with open(cursor_path) as fh:
            cur = json.load(fh)
        if _canon(cur.get("src", "")) != _canon(src_dir):
            raise ValueError(
                f"replica cursor tracks {cur.get('src')!r}, not {src_dir!r} "
                "— one replica follows one source"
            )
        applied = int(cur["applied"])
    src_vs = _version_numbers(src_dir)
    if not src_vs:
        raise ValueError(f"no committed versions under {src_dir!r}")
    to = src_vs[-1] if to_version is None else to_version
    if to <= applied:
        return {
            "applied_from": applied,
            "applied_to": applied,
            "n_changes": 0,
            "dst_version": None,
        }
    feed = read_changes(spark, src_dir, applied, to)
    from pyspark.sql import functions as F

    if "__deleted" in feed.columns:
        raise ValueError("source columns collide with reserved __deleted")
    # the merge runs several actions over the increment (touched-file
    # probe, union write) — persist the feed so its diff lineage
    # executes once (the multi-action discipline)
    inc = feed.withColumn(
        "__deleted", F.col("_change_type") == "delete"
    ).drop("_change_type")
    if bootstrap_cluster_by and not _version_numbers(dst_dir):
        inc = inc.repartitionByRange(*bootstrap_cluster_by)
    inc = inc.persist()
    try:
        n_changes = inc.count()
        r = merge_version(
            spark, inc, dst_dir, keys=keys, delete_col="__deleted"
        )
    finally:
        inc.unpersist()
    tmp = cursor_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"src": _canon(src_dir), "applied": to}, fh)
    os.replace(tmp, cursor_path)
    return {
        "applied_from": applied,
        "applied_to": to,
        "n_changes": n_changes,
        "dst_version": r["version"],
    }


def scd2_apply_changes(
    spark: SparkSession,
    src_dir: str,
    dim_dir: str,
    keys: Sequence[str],
    ts: str,
    to_version: int | None = None,
) -> dict:
    """Maintain an SCD Type-2 dimension HISTORY table from a source
    table's change data feed — the CDC-to-warehouse composition
    (contrast :func:`..sinks.merge.scd2_merge`, which diffs a FULL
    snapshot per run and rewrites the whole dimension — the reference's
    cost profile): here the feed names exactly the changed keys
    (O(changed files) to produce), and the apply touches only
    dimension files holding those keys (O(touched files) to commit).

    Per apply, stamped ``ts`` (the batch's effective date): a key with
    a new image in the feed closes its current row (``valid_to = ts``,
    ``is_current = false``) and opens a new one (``valid_from = ts``);
    a RETIRED key (delete with no re-insert) closes without reopening —
    the retirement case snapshot-diff SCD2 needs full scans to even
    notice; a brand-new key opens its first row. Both the closes and
    the opens upsert through ONE :func:`merge_version` on
    ``keys + [valid_from]`` (a close REPLACES the open row it
    supersedes; an open inserts), so the dimension gets one commit per
    apply with snapshot isolation.

    History granularity is apply granularity: a key that changed twice
    between applies nets to its final image (the multiset feed cancels
    intermediates) — run the apply per source commit for full fidelity.
    The applied-version cursor lives in ``dim_dir/_scd2_cursor.json``
    with the same crash ordering as :func:`replicate_changes`
    (merge THEN cursor; the re-apply closes already-closed rows to the
    same values and re-upserts the same opens — idempotent).

    Returns ``{"applied_from", "applied_to", "n_opened", "n_closed",
    "dim_version"}``."""
    from pyspark.sql import functions as F

    key_cols = list(keys)
    reserved = {"valid_from", "valid_to", "is_current"}
    cursor_path = os.path.join(dim_dir, "_scd2_cursor.json")
    applied = 0
    if os.path.exists(cursor_path):
        with open(cursor_path) as fh:
            cur = json.load(fh)
        if _canon(cur.get("src", "")) != _canon(src_dir):
            raise ValueError(
                f"dimension cursor tracks {cur.get('src')!r}, not "
                f"{src_dir!r} — one dimension follows one source"
            )
        applied = int(cur["applied"])
    src_vs = _version_numbers(src_dir)
    if not src_vs:
        raise ValueError(f"no committed versions under {src_dir!r}")
    to = src_vs[-1] if to_version is None else to_version
    if to <= applied:
        return {
            "applied_from": applied,
            "applied_to": applied,
            "n_opened": 0,
            "n_closed": 0,
            "dim_version": None,
        }
    feed = read_changes(spark, src_dir, applied, to)
    clash = reserved & set(feed.columns)
    if clash:
        raise ValueError(
            f"source columns collide with SCD2 columns {sorted(clash)}"
        )
    feed = feed.persist()
    try:
        ins = feed.filter(F.col("_change_type") == "insert").drop(
            "_change_type"
        )
        affected = (
            feed.select(*key_cols).distinct()
        )  # changed, retired, and new keys alike
        opens = (
            ins.withColumn("valid_from", F.lit(ts))
            .withColumn("valid_to", F.lit(None).cast("string"))
            .withColumn("is_current", F.lit(True))
        )
        n_opened = opens.count()
        if _version_numbers(dim_dir):
            # no broadcast hint: a backfill's feed can be huge; AQE
            # broadcasts the key side when the increment is small.
            # The valid_from != ts guard is the idempotency keystone: a
            # crash-replay of the same batch finds the rows IT opened
            # as the current ones — closing those would stamp a
            # zero-width interval and leave the key with no current
            # row; excluded, the replay re-upserts identical opens and
            # the history converges.
            closes = (
                read_version(spark, dim_dir)
                .filter(F.col("is_current") & (F.col("valid_from") != F.lit(ts)))
                .join(affected, key_cols, "left_semi")
                .withColumn("valid_to", F.lit(ts))
                .withColumn("is_current", F.lit(False))
            )
            incoming = closes.unionByName(opens)
        else:
            incoming = opens
        # the merge runs several actions over the increment (touched
        # probe + union write) and the closes side re-reads the
        # dimension — persist so the dim scan and the feed-side joins
        # execute once across count + merge
        incoming = incoming.persist()
        try:
            n_closed = incoming.count() - n_opened
            r = merge_version(
                spark, incoming, dim_dir, keys=key_cols + ["valid_from"]
            )
        finally:
            incoming.unpersist()
    finally:
        feed.unpersist()
    tmp = cursor_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"src": _canon(src_dir), "applied": to}, fh)
    os.replace(tmp, cursor_path)
    return {
        "applied_from": applied,
        "applied_to": to,
        "n_opened": n_opened,
        "n_closed": n_closed,
        "dim_version": r["version"],
    }


def optimize_table(
    spark: SparkSession,
    table_dir: str,
    cluster_by: Sequence[str] = (),
    target_file_bytes: int = 128 * 1024 * 1024,
    index_cols: Sequence[str] = (),
    change_files: bool = False,
    incremental: bool = False,
    width_frac_threshold: float | None = None,
) -> dict:
    """The OPTIMIZE orchestrator (Delta ``OPTIMIZE ... ZORDER BY`` /
    Iceberg rewrite_data_files): one overwrite commit that bin-packs
    the head snapshot into ~``target_file_bytes`` files, optionally
    re-clusters on ``cluster_by`` (range layout — file skipping works
    again after appends/merges hash-scattered the keys), FOLDS
    accumulated deletion vectors away (an overwrite materializes live
    rows only), and rebuilds the Bloom indexes for ``index_cols`` at
    their recorded geometry. Time travel to pre-optimize versions is
    untouched (their manifests still reference the old files until
    :func:`vacuum`); concurrent readers see either the old or the new
    snapshot, never a mix — it is an ordinary commit.

    Sizing is metadata-only (no data read): output file count =
    ceil(live bytes / target) from the manifest's file list. A table
    with DV'd rows over-counts slightly (sizes include dead rows) —
    self-correcting, since this very commit folds them. Row content is
    byte-identical to ``read_version(head)`` by construction; only the
    layout changes, which is what makes OPTIMIZE safe to run from a
    maintenance cron forever.

    The ``cluster_by`` range boundaries are sampled, and Spark seeds
    ``RangePartitioner``'s sample with the RDD's id. The same table
    content can therefore get different boundaries, and so different
    file counts and envelopes, depending on how many RDDs the session
    built earlier: any change in the number of jobs a session runs
    before an optimize moves the layout (files rewritten later, head
    and DV file counts, write amplification), never the rows.

    ``change_files=True`` records an explicit EMPTY change set in the
    commit (OPTIMIZE changes layout, never content — the Delta CDF
    convention): the streaming change feed then passes the commit with
    zero rows instead of refusing a file rewrite it cannot attribute.

    ``incremental=True`` (the liquid-clustering cost profile): instead
    of rewriting the whole live table, rewrite ONLY the files whose
    recorded envelope on ``cluster_by`` (exactly one column, with
    recorded ``stats_cols`` coverage) is wider than
    ``width_frac_threshold`` of the column's domain — i.e. the files
    that actually de-cluster point probes — plus files with no
    recorded envelope at all (COW-rewritten earlier, coverage unknown).
    Everything else carries BY IDENTITY: after a hot partition's
    appends hash-scatter the key, the commit costs O(scattered files),
    not O(table) — the difference between a nightly full rewrite and a
    continuously-maintained layout at 100 TB. The default threshold is
    2/n_covered (twice the perfectly-tiled file's share of the
    domain). When nothing qualifies the call is a NO-OP (no commit,
    ``files_rewritten`` 0). Returns the full-optimize keys plus
    ``files_rewritten``/``files_carried``, ``bytes_selected`` (bytes of
    the rewritten files only — ``bytes_before`` stays whole-table on
    BOTH modes, so callers comparing across modes read one semantics)
    and the recorded-stats ``avg_point_reads`` before/after.

    Returns ``{"version", "files_before", "files_after",
    "bytes_before", "dv_files_folded", "n_rows"}``."""
    from pyspark.sql import functions as F

    m = load_manifest(table_dir, None)
    _refuse_repeated_leaf_m(m, index_cols, "index_cols")
    if not m["files"] or not m["n_rows"]:
        raise ValueError("optimize on an empty snapshot — nothing to pack")
    if incremental:
        return _optimize_incremental(
            spark, table_dir, m, cluster_by, target_file_bytes,
            index_cols, change_files, width_frac_threshold,
        )
    bytes_before = sum(os.path.getsize(f) for f in m["files"])
    n_out = max(1, -(-bytes_before // int(target_file_bytes)))
    live = _live_scan(spark, m)
    if cluster_by:
        live = live.repartitionByRange(n_out, *[F.col(c) for c in cluster_by])
    else:
        live = live.repartition(n_out)
    v = write_version(
        spark, live, table_dir, mode="overwrite", index_cols=index_cols,
        change_files=[] if change_files else None,
    )
    m2 = load_manifest(table_dir, v)
    return {
        "version": v,
        "files_before": len(m["files"]),
        "files_after": len(m2["files"]),
        "bytes_before": bytes_before,
        "dv_files_folded": len(m.get("dv_files") or []),
        "n_rows": m2["n_rows"],
    }


def _optimize_incremental(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    cluster_by: Sequence[str],
    target_file_bytes: int,
    index_cols: Sequence[str],
    change_files: bool,
    width_frac_threshold: float | None,
) -> dict:
    """Incremental re-cluster body (see :func:`optimize_table`
    ``incremental=True``): selection is METADATA-ONLY (recorded
    envelopes), the rewrite scans exactly the selected files, and
    every other file carries by identity — O(de-clustered files),
    never O(table)."""
    from pyspark.sql import functions as F

    if len(cluster_by) != 1:
        raise ValueError(
            "incremental optimize clusters on exactly one column "
            f"(got {list(cluster_by)!r}) — multi-key layouts go through "
            "a Z-order/Hilbert key and cluster on that"
        )
    col = cluster_by[0]
    if col not in (m.get("stats_cols") or []):
        raise ValueError(
            f"incremental optimize needs recorded stats on {col!r} "
            "(write_version stats_cols) — selection is envelope-driven"
        )
    stats = m.get("stats") or {}
    # recorded envelopes are physical-keyed (rename-stable); dotted
    # logical paths resolve through the nested map too
    col_phys = _phys_path(_col_mapping(m), col)
    envs: dict[str, tuple] = {}
    unknown: list[str] = []
    for f in m["files"]:
        e = (stats.get(_canon(f)) or {}).get(col_phys)
        if e is None:
            unknown.append(f)
        else:
            envs[f] = (e[0], e[1])
    if not envs:
        raise ValueError(
            f"no file has a recorded envelope for {col!r} — run a full "
            "optimize_table() to (re)record coverage"
        )
    if not all(
        isinstance(v, (int, float)) and not isinstance(v, bool)
        for e in envs.values()
        for v in e
    ):
        raise ValueError(
            f"incremental optimize needs a NUMERIC envelope on {col!r} "
            "(recorded min/max are not numbers) — width-fraction "
            "selection is undefined for string/temporal domains; "
            "cluster on a numeric key (e.g. a Z-order/Hilbert key "
            "column) instead"
        )
    lo = min(e[0] for e in envs.values())
    hi = max(e[1] for e in envs.values())
    width = hi - lo
    n_covered = len(envs)
    thr = (
        width_frac_threshold
        if width_frac_threshold is not None
        else 2.0 / n_covered
    )
    if width <= 0:
        wide: list[str] = []
        before_reads = float(n_covered)
    else:
        wide = [
            f for f, e in envs.items() if (e[1] - e[0]) / width > thr
        ]
        before_reads = sum((e[1] - e[0]) / width for e in envs.values())
    selected = sorted(set(wide) | set(unknown))
    # bytes_before is WHOLE-TABLE live-file bytes on both optimize
    # modes (callers comparing full vs incremental read one semantics);
    # the selected subset's bytes report separately as bytes_selected
    bytes_all = sum(
        os.path.getsize(f) for f in m["files"] if os.path.exists(f)
    )
    if not selected:
        return {
            "version": m["version"],
            "files_before": len(m["files"]),
            "files_after": len(m["files"]),
            "files_rewritten": 0,
            "files_carried": len(m["files"]),
            "bytes_before": bytes_all,
            "bytes_selected": 0,
            "dv_files_folded": 0,
            "n_rows": m["n_rows"],
            "avg_point_reads_before": before_reads,
            "avg_point_reads_after": before_reads,
        }
    carried = _untouched_files(m["files"], {_canon(f) for f in selected})
    bytes_sel = sum(
        os.path.getsize(f) for f in selected if os.path.exists(f)
    )
    n_out = max(1, -(-bytes_sel // int(target_file_bytes)))
    live = _live_scan(spark, m, files=selected)
    rewritten = live.repartitionByRange(n_out, F.col(col))
    new_files, _n_new, new_stats = _write_data_files(
        rewritten, table_dir, _col_mapping(m), _phys_stats_cols(m)
    )
    v = _commit_ops(
        table_dir,
        _child_body(
            m,
            mode="optimize_incremental",
            files=carried + new_files,
            # live rows of the selected files rewrote 1:1 (DV'd rows
            # fold away and were never in n_rows) — content unchanged
            n_rows=m["n_rows"],
            new_stats=new_stats,
            change_files=[] if change_files else None,
        ),
        base_version=m["version"],
        staged=(new_files,),
        spark=spark,
        index=_Index(index_cols, new_files),
    )
    after = layout_report(table_dir, col, version=v)["avg_point_reads"]
    return {
        "version": v,
        "files_before": len(m["files"]),
        "files_after": len(carried) + len(new_files),
        "files_rewritten": len(selected),
        "files_carried": len(carried),
        "bytes_before": bytes_all,
        "bytes_selected": bytes_sel,
        "dv_files_folded": 0,
        "n_rows": m["n_rows"],
        "avg_point_reads_before": before_reads,
        "avg_point_reads_after": after,
    }


def layout_report(table_dir: str, col: str, version: int | None = None) -> dict:
    """Clustering-quality report for ``col`` from RECORDED stats alone
    (zero file I/O — requires write_version ``stats_cols``): per-file
    envelopes, their average pairwise-overlap count, and the expected
    files a point probe must read. ``avg_point_reads`` is the honest
    metric: for a random qualifying point, how many file envelopes
    contain it on average (1.0 = perfectly clustered; n_files = every
    probe scans everything — the hash-scattered worst case). Computed
    exactly as Σ_f width(f) / width(domain) over covered files.

    This is what tells a maintenance cron WHEN :func:`optimize_table`
    is worth its rewrite — see :func:`maintenance_plan`."""
    m = load_manifest(table_dir, version)
    stats = m.get("stats") or {}
    col = _phys_path(_col_mapping(m), col)  # physical-keyed (dotted too)
    envs = [
        tuple(stats[f][col]) for f in m["files"]
        if f in stats and col in stats[f]
    ]
    n_covered = len(envs)
    if not n_covered:
        return {
            "n_files": len(m["files"]),
            "n_covered": 0,
            "avg_point_reads": None,
        }
    lo = min(e[0] for e in envs)
    hi = max(e[1] for e in envs)
    width = hi - lo
    if width <= 0:
        # single-point domain: every file overlaps every probe
        avg = float(n_covered)
    else:
        avg = sum((e[1] - e[0]) / width for e in envs)
    return {
        "n_files": len(m["files"]),
        "n_covered": n_covered,
        "avg_point_reads": avg,
    }


def maintenance_plan(
    table_dir: str,
    cluster_col: str | None = None,
    small_file_bytes: int = 32 * 1024 * 1024,
    max_small_files: int = 8,
    max_dv_files: int = 4,
    max_point_reads: float = 2.0,
) -> dict:
    """Metadata-only maintenance advisor: should this table be
    OPTIMIZE'd, and why — the decision a lakehouse service makes per
    table per cycle, at manifest cost (no data reads; file sizes come
    from the filesystem listing the manifest already names).

    Three independent triggers, each the cost model of a real
    degradation: ``fragmented`` (more than ``max_small_files`` data
    files under ``small_file_bytes`` — open() overhead starts to
    dominate scans), ``dv_heavy`` (more than ``max_dv_files`` deletion-
    vector sidecars — every read pays a growing anti-join),
    ``declustered`` (recorded-stats :func:`layout_report` expects a
    point probe to read more than ``max_point_reads`` files —
    skipping has stopped working). ``recommend_optimize`` is their OR;
    run :func:`optimize_table` and all three reset."""
    m = load_manifest(table_dir, None)
    sizes = [os.path.getsize(f) for f in m["files"] if os.path.exists(f)]
    n_small = sum(1 for s in sizes if s < small_file_bytes)
    n_dvs = len(m.get("dv_files") or [])
    fragmented = n_small > max_small_files
    dv_heavy = n_dvs > max_dv_files
    declustered = False
    point_reads = None
    if cluster_col is not None:
        rep = layout_report(table_dir, cluster_col)
        point_reads = rep["avg_point_reads"]
        declustered = (
            point_reads is not None and point_reads > max_point_reads
        )
    return {
        "n_files": len(m["files"]),
        "n_small_files": n_small,
        "n_dv_files": n_dvs,
        "avg_point_reads": point_reads,
        "fragmented": fragmented,
        "dv_heavy": dv_heavy,
        "declustered": declustered,
        "recommend_optimize": fragmented or dv_heavy or declustered,
    }


def version_as_of(table_dir: str, ts: float, branch: str | None = None) -> int:
    """Timestamp time travel (Delta ``TIMESTAMP AS OF``): the LATEST
    version whose ``committed_at`` is ≤ ``ts`` — i.e. the snapshot a
    reader at that wall-clock moment would have seen. Raises when
    ``ts`` predates the first commit (there was no table then — an
    empty default would silently alias 'before creation' to 'v1').
    Commit timestamps come from the committing writer's clock; skew
    across writers can reorder timestamps relative to version numbers,
    so the scan takes the max-version among qualifying manifests, and
    version numbers stay the authoritative order (same caveat as
    Delta's)."""
    vs = _version_numbers(table_dir, branch)
    if not vs:
        raise ValueError(f"no committed versions under {table_dir!r}")
    best = None
    for v in vs:
        m = load_manifest(table_dir, v, branch)
        if m["committed_at"] <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the first commit "
            f"({load_manifest(table_dir, vs[0], branch)['committed_at']})"
        )
    return best


def restore_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    index_cols: Sequence[str] = (),
    index_max_chain: int = 8,
    branch: str | None = None,
    tag: str | None = None,
    change_files: bool = False,
) -> dict:
    """RESTORE: commit a new head whose snapshot is EXACTLY an earlier
    version's (the Delta Lake ``RESTORE TABLE ... TO VERSION`` /
    Iceberg rollback operation — the recovery path after a bad write).
    Zero data files are written or rewritten: the new manifest
    re-points at the target version's data files, DV sidecars, and
    recorded schema by reference — an O(manifest) commit regardless of
    table size, which is what makes "undo the last bad backfill on a
    100 TB table" a seconds-scale operation instead of a rewrite.

    History is preserved, never truncated: the bad versions remain
    time-travel-readable (and CDF-diffable) until :func:`vacuum` drops
    them — restoring is a FORWARD commit, so concurrent readers and the
    conflict-detection of in-flight writers see it as any other commit.
    :func:`read_changes` across a restore yields exactly the row-level
    undo set (re-inserts of what the bad commits deleted, deletes of
    what they added) with its usual O(changed files) scoping — the two
    file lists mostly re-converge.

    The target must still be a RETAINED version (loadable manifest):
    tag it or keep it inside vacuum's window. ``tag="name"`` restores
    straight to a NAMED snapshot (the Iceberg rollback-to-tag form;
    exactly one of ``version``/``tag``) — tags are vacuum-retained, so
    a named target is loadable for as long as the name exists. Restoring re-references
    the target's files, and vacuum's liveness walk then keeps them via
    the new head's manifest.

    Schema: the restored head carries the target's recorded schema
    verbatim — restoring across a schema evolution rolls the schema
    back too, exactly like an overwrite replaces it (time travel and
    restore must agree on what v_target looked like).

    ``index_cols``: per column, when the TARGET version has a usable
    Bloom index, the new head's index is a zero-new-files chain link
    onto the target's (O(1) — the restored file set IS the target's,
    so the target's index is complete and fresh for it; links from the
    undone versions are simply not referenced). Without one, a full
    rebuild at the recorded/inherited geometry. Refused on branches,
    like every index build (indexes are main-lineage).

    ``change_files=True`` records the restore's exact row-level UNDO
    set (the inverse of :func:`read_changes` between the target and the
    pre-restore head) as ``_change_data`` in the same commit — the
    restore then costs O(changed files) instead of O(manifest), but the
    streaming change feed crosses it exactly instead of refusing.
    Refused on branch restores (the change feed is main-lineage).

    Returns ``{"version", "restored_from", "files_restored",
    "data_files_written", "index"}`` with ``data_files_written`` always
    0 (the literal the registry entry pins; change files are sidecars,
    not data files) and ``index`` mapping each requested column to
    ``"chained"`` or ``"rebuilt"``."""
    if branch is not None and index_cols:
        raise ValueError(
            "index_cols on a branch restore — Bloom indexes are "
            "main-lineage; build them when the branch publishes"
        )
    if (version is None) == (tag is None):
        raise ValueError(
            "restore_version takes exactly one of version= or tag="
        )
    if tag is not None:
        # restore to a NAMED snapshot (Iceberg rollback-to-tag): tags
        # are retained by vacuum, so the target manifest is loadable by
        # construction for as long as the name exists
        pinned = tags(table_dir)
        if tag not in pinned:
            raise ValueError(
                f"tag {tag!r} not found (have {sorted(pinned)})"
            )
        version = pinned[tag]
    target = load_manifest(table_dir, version, branch)
    _refuse_repeated_leaf_m(target, index_cols, "index_cols")
    cf: list[str] | None = None
    if change_files:
        if branch is not None:
            raise ValueError(
                "change_files=True on a branch restore — the change "
                "feed is main-lineage; restore the branch without it"
            )
        from pyspark.sql import functions as F

        sch = target.get("schema")
        _refuse_change_clash(
            [f["name"] for f in json.loads(sch)["fields"]] if sch else []
        )
        head = _version_numbers(table_dir)[-1]
        # the restore turns snapshot(head) into snapshot(target): its
        # change set is the INVERSE of the target→head feed, computed
        # with read_changes' own O(changed files) scoping
        undo = read_changes(
            spark, table_dir, from_version=version, to_version=head
        ).withColumn(
            "_change_type",
            F.when(F.col("_change_type") == "insert", F.lit("delete"))
            .otherwise(F.lit("insert")),
        )
        # the undo frame carries read_changes' UNION-schema logical
        # names — the HEAD's names for id-shared columns (a column
        # renamed between target and head appears under its head name),
        # plus target-only names for columns dropped since. Translating
        # with the target mapping alone would miss the head names and
        # stage the renamed column under a name no consumer's physical
        # lookup knows (silent NULL-fill downstream) — so physicalize
        # through target ∪ head, head names winning; physical names are
        # id-frozen, so both mappings agree wherever they overlap.
        head_map = _col_mapping(load_manifest(table_dir, head))
        syn_fields: dict[str, dict] = {}
        for src_map in (_col_mapping(target), head_map):
            if src_map:
                syn_fields.update(src_map["fields"])
        syn_map = (
            {"fields": syn_fields, "next_id": 0, "retired": []}
            if syn_fields
            else None
        )
        cf = _write_change_files(spark, undo, table_dir, syn_map)
    # per column: when the TARGET has a usable index it covers exactly
    # the restored file set, so the new head chains a zero-increment
    # link onto it (O(1); the undone versions' links fall out of the
    # reference graph and vacuum reclaims them); otherwise a rebuild
    _rmap = _col_mapping(target)
    index_result = {
        col: "chained"
        if _resolve_probe_index(table_dir, target, _phys_path(_rmap, col))
        else "rebuilt"
        for col in index_cols
    }
    v = _commit_ops(
        table_dir,
        _child_body(
            target,
            mode="restore",
            files=target["files"],
            n_rows=target["n_rows"],
            restored_from=version,
            change_files=cf,
        ),
        # the recorded undo set was computed against `head`; a commit
        # that raced in between would make it wrong
        base_version=head if cf is not None else None,
        staged=(cf,),
        spark=spark,
        index=_Index(index_cols, [], max_chain=index_max_chain, prior=version),
        branch=branch,
    )
    return {
        "version": v,
        "restored_from": version,
        "files_restored": len(target["files"]),
        "data_files_written": 0,
        "index": index_result,
    }


def add_constraint(
    spark: SparkSession, table_dir: str, name: str, expr: str
) -> int:
    """ADD a table-level CHECK constraint (Delta ``ALTER TABLE ... ADD
    CONSTRAINT name CHECK (expr)``): validates the ENTIRE current
    snapshot first — the part a later append can't vouch for — then
    commits a metadata-only version recording the grown contract
    (zero data files written; history stays time-travel-readable
    without the constraint). Validation is one filter-count over the
    live head, O(snapshot) by necessity and by honesty: a constraint
    nobody checked against history is a comment, not a contract. A
    violating snapshot REFUSES the add with the violation count.
    Every later :func:`write_version` append then enforces it at
    O(increment) cost. Returns the new version number."""
    from pyspark.sql import functions as F

    m = load_manifest(table_dir, None)
    cc = dict(m.get("constraints") or {})
    if name in cc:
        raise ValueError(
            f"constraint {name!r} already recorded ({cc[name]!r}) — "
            "drop_constraint() first to deliberately replace it"
        )
    if m["files"]:
        n_bad = (
            _live_scan(spark, m)
            .filter(~F.coalesce(F.expr(expr), F.lit(False)))
            .count()
        )
        if n_bad:
            raise ValueError(
                f"cannot add constraint {name!r}: {n_bad} existing rows "
                f"violate {expr!r} — clean the data first (the history a "
                "constraint can't vouch for is exactly what this "
                "validation is for)"
            )
    cc[name] = expr
    # a metadata-only commit changes ZERO rows, so its exact change set
    # is the empty set — recorded unconditionally (every ALTER below
    # does the same), otherwise one rename/constraint commit knocks
    # every straddling range off read_changes' recorded fast path
    return _commit_ops(
        table_dir,
        _child_body(
            m,
            mode="add_constraint",
            files=m["files"],
            n_rows=m["n_rows"],
            constraints=cc,
            change_files=[],
        ),
        base_version=m["version"],
    )


def drop_constraint(table_dir: str, name: str) -> int:
    """DROP a recorded CHECK constraint — a metadata-only commit (the
    deliberate contract-shrink path; loud on an unknown name). Returns
    the new version number."""
    m = load_manifest(table_dir, None)
    cc = dict(m.get("constraints") or {})
    if name not in cc:
        raise ValueError(
            f"constraint {name!r} not recorded (have {sorted(cc)})"
        )
    del cc[name]
    return _commit_ops(
        table_dir,
        _child_body(
            m,
            mode="drop_constraint",
            files=m["files"],
            n_rows=m["n_rows"],
            constraints=cc,
            change_files=[],
        ),
        base_version=m["version"],
    )


_RESERVED_COLUMN_NAMES = {
    "_change_type", "_commit_version", _DV_FILE, _DV_POS,
    "__cdf_delta", "__cdf_net", "__cdf_i", "__cdf_chunk", "__cdc_rank",
    "__deleted", "__src",
}


def _refuse_column_dependents(table_dir: str, m: dict, name: str, op: str) -> None:
    """RENAME/DROP guards for the machinery that CANNOT follow a field
    id: CHECK/generated SQL expressions (free text) — refuse loudly
    instead of letting enforcement silently rot, escape hatch named.
    Recorded footer stats, Bloom indexes (round 13) AND the partition
    layout (round 14) are NOT rename-refused: all three are keyed by
    the column's frozen PHYSICAL name (hive dir keys are written from
    physicals, value maps recorded under them) and every probe/build
    site resolves logical → physical through the mapping, so a RENAME
    never invalidates them. DROPPING a partition column stays refused
    — the layout cannot exist without its key."""
    if op.startswith("drop"):
        phys = _phys_names(_col_mapping(m)).get(name, name)
        if phys in (m.get("partition_cols") or []):
            raise ValueError(
                f"cannot {op} {name!r}: it is a partition column — "
                "overwrite with a new partition_by first"
            )
    word = re.compile(rf"\b{re.escape(name)}\b")
    for cname, cexpr in sorted((m.get("constraints") or {}).items()):
        if word.search(cexpr):
            raise ValueError(
                f"cannot {op} {name!r}: CHECK constraint {cname!r} "
                f"references it ({cexpr!r}) — drop_constraint() first"
            )
    for gname, gexpr in sorted((m.get("generated_cols") or {}).items()):
        if gname == name or word.search(gexpr):
            raise ValueError(
                f"cannot {op} {name!r}: generated column {gname!r} "
                f"involves it ({gexpr!r}) — overwrite with new "
                "generated_cols first"
            )


def enable_column_mapping(table_dir: str) -> int:
    """Turn on FIELD-ID COLUMN MAPPING for a versioned table (the
    Delta ``columnMapping.mode=name`` / Iceberg field-id upgrade): a
    metadata-only commit that freezes every current column's name as
    its PHYSICAL name (exactly what the existing data files store — no
    rewrite) and assigns stable integer field ids.
    :func:`rename_column` / :func:`drop_column` then become O(manifest)
    commits on a table of any size, old files keep reading correctly
    under new names (readers scan physical, alias to logical), and
    time travel shows each version under its own names. Idempotent —
    an already-mapped table returns its current version untouched."""
    from pyspark.sql.types import StructType

    m = load_manifest(table_dir, None)
    if _col_mapping(m):
        return m["version"]
    if not m.get("schema"):
        raise ValueError(
            f"{table_dir!r} has no recorded schema — column mapping "
            "needs one to freeze physical names from"
        )
    return _commit_ops(
        table_dir,
        _child_body(
            m,
            mode="enable_column_mapping",
            files=m["files"],
            n_rows=m["n_rows"],
            column_mapping=_init_mapping(
                StructType.fromJson(json.loads(m["schema"]))
            ),
            change_files=[],
        ),
        base_version=m["version"],
    )


def _rename_in_dtype(dtype, parts: list[str], new_leaf: str):
    """Rebuild ``dtype`` with the struct field at logical path
    ``parts`` renamed to ``new_leaf`` (arrays traversed)."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    if isinstance(dtype, ArrayType):
        return ArrayType(
            _rename_in_dtype(dtype.elementType, parts, new_leaf),
            dtype.containsNull,
        )
    out = []
    for f in dtype.fields:
        if f.name == parts[0]:
            if len(parts) == 1:
                out.append(StructField(new_leaf, f.dataType, f.nullable))
            else:
                out.append(
                    StructField(
                        f.name,
                        _rename_in_dtype(f.dataType, parts[1:], new_leaf),
                        f.nullable,
                    )
                )
        else:
            out.append(f)
    return StructType(out)


def _drop_in_dtype(dtype, parts: list[str]):
    """Rebuild ``dtype`` without the struct field at logical path
    ``parts`` (arrays traversed)."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    if isinstance(dtype, ArrayType):
        return ArrayType(
            _drop_in_dtype(dtype.elementType, parts), dtype.containsNull
        )
    out = []
    for f in dtype.fields:
        if f.name == parts[0]:
            if len(parts) == 1:
                continue
            out.append(
                StructField(
                    f.name, _drop_in_dtype(f.dataType, parts[1:]), f.nullable
                )
            )
        else:
            out.append(f)
    return StructType(out)


def _phys_rel(nested: dict, rel_parts: list[str]) -> str:
    """Physical dotted path for a logical nested path, from the
    column's nested map (identity for unrecorded components)."""
    out = []
    for i in range(1, len(rel_parts) + 1):
        p = ".".join(rel_parts[:i])
        out.append((nested.get(p) or {}).get("physical", rel_parts[i - 1]))
    return ".".join(out)


def _rename_nested(
    table_dir: str, m: dict, schema, old: str, new: str
) -> int:
    """Nested-field RENAME body (see :func:`rename_column`): same
    metadata-only cost — the leaf keeps its frozen physical name and a
    freshly-minted (or carried) field id; descendants' map keys ride a
    prefix rewrite; the recorded schema renames the leaf in place.
    Reference fixture shape: the books corpus's ``authors[].id``
    (``/root/reference/scripts/transform.py:27-29``)."""
    parts = old.split(".")
    top = parts[0]
    names = [f.name for f in schema.fields]
    if top not in names:
        raise ValueError(f"column {top!r} not in schema (have {names})")
    if "." in new or not new or new in _RESERVED_COLUMN_NAMES or new.startswith(
        _PART_SHADOW
    ):
        raise ValueError(
            f"{new!r} is not a valid nested leaf name (single component, "
            "non-reserved) — a rename cannot move a field between structs"
        )
    top_field = next(f for f in schema.fields if f.name == top)
    parent, leaf = _resolve_nested(top_field.dataType, parts[1:])
    if any(f.name == new for f in parent.fields):
        raise ValueError(
            f"nested field {new!r} already exists beside {old!r}"
        )
    # conservative: any machinery addressing the TOP column could reach
    # the renamed leaf through it
    _refuse_column_dependents(table_dir, m, top, "rename a nested field of")
    mapping = _col_mapping(m) or _init_mapping(schema)
    fields = {l: dict(e) for l, e in mapping["fields"].items()}
    entry = fields[top]
    nested = dict(_nested_of(entry))
    rel = ".".join(parts[1:])
    rec = nested.pop(rel, None)
    next_id = mapping["next_id"]
    if rec is None:
        # first rename of this leaf: physical = its current logical
        # (the frozen creation-time name), id minted now — the lazy
        # minting that keeps never-renamed structs entry-free
        rec = {"id": next_id, "physical": leaf.name}
        next_id += 1
    new_rel = ".".join(parts[1:-1] + [new])
    pref = rel + "."
    nested = {
        (new_rel + "." + k[len(pref):] if k.startswith(pref) else k): v
        for k, v in nested.items()
    }
    nested[new_rel] = rec
    entry["nested"] = nested
    new_mapping = {
        "fields": fields,
        "next_id": next_id,
        "retired": list(mapping.get("retired") or []),
    }
    from pyspark.sql.types import StructField, StructType

    new_schema = StructType(
        [
            StructField(
                f.name,
                _rename_in_dtype(f.dataType, parts[1:], new)
                if f.name == top
                else f.dataType,
                f.nullable,
            )
            for f in schema.fields
        ]
    )

    new_path = ".".join([top] + parts[1:-1] + [new])

    def _under(c: str) -> bool:
        # a literal-dotted top-level name is its own column and never
        # rewrites by prefix (mirrors _phys_path dispatch)
        if c in fields:
            return False
        return c == old or c.startswith(old + ".")

    return _commit_ops(
        table_dir,
        _child_body(
            m,
            mode="rename_column",
            files=m["files"],
            n_rows=m["n_rows"],
            schema=new_schema.json(),
            column_mapping=new_mapping,
            # dotted stats_cols entries are LOGICAL paths and follow the
            # rename; per-file envelopes are physical-keyed and stay
            # valid untouched
            stats_cols=[
                new_path + c[len(old):] if _under(c) else c
                for c in m.get("stats_cols") or []
            ],
            renamed={"from": old, "to": new_path, "id": rec["id"]},
            change_files=[],
        ),
        base_version=m["version"],
    )


def rename_column(table_dir: str, old: str, new: str) -> int:
    """RENAME a column — a METADATA-ONLY commit (Delta ``ALTER TABLE
    ... RENAME COLUMN`` under column mapping): zero data files are
    touched; the column keeps its field id and physical name, only the
    manifest's logical name changes, so every old file reads correctly
    under the new name and time travel keeps each version's own names.
    Auto-enables column mapping on first use. Refused when the column
    feeds free-text machinery (CHECK/generated expressions) — see
    :func:`_refuse_column_dependents` — or when ``new`` collides with
    an existing column or a reserved internal name. PARTITION columns
    rename too (round 14): the layout — hive dir keys, recorded
    per-file value maps, ``partition_cols`` itself — is keyed by the
    column's frozen PHYSICAL name, and every consumer (pruned reads,
    DML partition_scope skipping, :func:`overwrite_partitions` scope
    resolution, fsck's purity audit) resolves logical → physical
    through the mapping, so a rename on a 100 TB date-partitioned
    table is one manifest write with pruning intact.

    NESTED fields rename through a dotted path (``"authors.id"`` —
    array levels traverse transparently, so that addresses the ``id``
    field of each ``authors`` element; ``new`` is the bare leaf name):
    same metadata-only cost at any depth, zero files touched, old
    files keep reading via the frozen nested physical names (readers
    apply one positional struct cast per renamed column — a pure
    rename, NULL-preserving). The change STREAM translates nested
    renames too (an Arrow-side by-physical-name rebuild; only a
    restructuring overwrite that RETYPES a shared physical leaf
    refuses, pointedly); ``read_changes`` handles ranges crossing a
    nested rename by field id (a rename diffs as itself, never as
    drop+add).

    Returns the new version number."""
    from pyspark.sql.types import StructField, StructType

    m = load_manifest(table_dir, None)
    if not m.get("schema"):
        raise ValueError(f"{table_dir!r} has no recorded schema")
    schema = StructType.fromJson(json.loads(m["schema"]))
    names = [f.name for f in schema.fields]
    # exact top-level match wins: a literal dotted COLUMN name (legal
    # in Spark) stays renameable; only unmatched dotted paths dispatch
    # to the nested handler
    if "." in old and old not in names:
        return _rename_nested(table_dir, m, schema, old, new)
    if old not in names:
        raise ValueError(f"column {old!r} not in schema (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if (
        not new
        or new in _RESERVED_COLUMN_NAMES
        or new.startswith(_PART_SHADOW)
    ):
        raise ValueError(f"{new!r} is a reserved or invalid column name")
    _refuse_column_dependents(table_dir, m, old, "rename")
    mapping = _col_mapping(m) or _init_mapping(schema)
    fields = dict(mapping["fields"])
    entry = fields.pop(old)
    fields[new] = entry
    new_mapping = {
        "fields": fields,
        "next_id": mapping["next_id"],
        "retired": list(mapping.get("retired") or []),
    }
    new_schema = StructType(
        [
            StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
    )

    def _under(c: str) -> bool:
        # exact match, or a dotted NESTED path under the renamed column
        # (a literal-dotted top-level name never rewrites by prefix — it
        # is its own column)
        return c == old or (
            c.startswith(old + ".") and c not in mapping["fields"]
        )

    return _commit_ops(
        table_dir,
        _child_body(
            m,
            mode="rename_column",
            files=m["files"],
            n_rows=m["n_rows"],
            schema=new_schema.json(),
            column_mapping=new_mapping,
            # the logical list follows the rename; per-file envelopes
            # are physical-keyed and stay valid untouched
            stats_cols=[
                new + c[len(old):] if _under(c) else c
                for c in m.get("stats_cols") or []
            ],
            renamed={"from": old, "to": new, "id": entry["id"]},
            change_files=[],
        ),
        base_version=m["version"],
    )


def _drop_nested(table_dir: str, m: dict, schema, name: str) -> int:
    """Nested-field DROP body (see :func:`drop_column`)."""
    parts = name.split(".")
    top = parts[0]
    names = [f.name for f in schema.fields]
    if top not in names:
        raise ValueError(f"column {top!r} not in schema (have {names})")
    top_field = next(f for f in schema.fields if f.name == top)
    parent, leaf = _resolve_nested(top_field.dataType, parts[1:])
    if len(parent.fields) == 1:
        raise ValueError(
            f"cannot drop {name!r}: it is the last field of its struct "
            "— drop the enclosing column instead"
        )
    _refuse_column_dependents(table_dir, m, top, "drop a nested field of")
    mapping = _col_mapping(m) or _init_mapping(schema)
    fields = {l: dict(e) for l, e in mapping["fields"].items()}
    entry = fields[top]
    nested = dict(_nested_of(entry))
    rel = ".".join(parts[1:])
    # physical path BEFORE mutating the map (prefix components resolve
    # through it)
    phys_path = _phys_rel(nested, parts[1:])
    rec = nested.pop(rel, None)
    dropped_id = rec["id"] if rec else None
    nested = {
        k: v for k, v in nested.items() if not k.startswith(rel + ".")
    }
    if nested:
        entry["nested"] = nested
    else:
        entry.pop("nested", None)
    entry["nested_dropped"] = sorted(
        set(entry.get("nested_dropped") or []) | {phys_path}
    )
    new_mapping = {
        "fields": fields,
        "next_id": mapping["next_id"],
        "retired": list(mapping.get("retired") or []),
    }
    from pyspark.sql.types import StructField, StructType

    new_schema = StructType(
        [
            StructField(
                f.name,
                _drop_in_dtype(f.dataType, parts[1:])
                if f.name == top
                else f.dataType,
                f.nullable,
            )
            for f in schema.fields
        ]
    )

    scs = m.get("stats_cols") or []
    gone = {
        c for c in scs if c not in fields and (c == name or c.startswith(name + "."))
    }
    # a dotted stats leaf under the dropped path leaves the contract;
    # envelopes scrub by the frozen PHYSICAL path
    stats = _scrubbed_stats(m, scs, gone, entry["physical"] + "." + phys_path)
    return _commit_ops(
        table_dir,
        _child_body(
            m,
            mode="drop_column",
            files=m["files"],
            n_rows=m["n_rows"],
            schema=new_schema.json(),
            column_mapping=new_mapping,
            dropped={"name": name, "id": dropped_id},
            change_files=[],
            **stats,
        ),
        base_version=m["version"],
    )


def drop_column(table_dir: str, name: str) -> int:
    """DROP a column — a METADATA-ONLY commit (Delta ``ALTER TABLE ...
    DROP COLUMN`` under column mapping): zero data files are rewritten;
    the column leaves the manifest schema and its physical name is
    RETIRED (old files still hold the bytes, readers simply never
    project them; re-adding the same name is refused so those bytes can
    never resurrect — vacuum of the pre-drop versions is what actually
    reclaims them). Time travel before the drop still shows the column.
    Auto-enables column mapping on first use; same dependent-machinery
    refusals as :func:`rename_column`; the last column cannot be
    dropped.

    NESTED fields drop through a dotted path (``"authors.id"``): the
    leaf leaves the recorded schema metadata-only, its physical path is
    marked in the column's ``nested_dropped`` list (old files keep the
    bytes; readers never project them; appends can't re-add a nested
    field anyway — that would be a per-column type change, which the
    schema gate refuses; an overwrite restructuring the column resets
    the marks, as the full file replacement makes resurrection
    impossible). The last field of a struct cannot be dropped — drop
    the column itself. Returns the new version number."""
    from pyspark.sql.types import StructType

    m = load_manifest(table_dir, None)
    if not m.get("schema"):
        raise ValueError(f"{table_dir!r} has no recorded schema")
    schema = StructType.fromJson(json.loads(m["schema"]))
    names = [f.name for f in schema.fields]
    # exact top-level match wins (see rename_column)
    if "." in name and name not in names:
        return _drop_nested(table_dir, m, schema, name)
    if name not in names:
        raise ValueError(f"column {name!r} not in schema (have {names})")
    if len(names) == 1:
        raise ValueError("cannot drop the last column")
    _refuse_column_dependents(table_dir, m, name, "drop")
    mapping = _col_mapping(m) or _init_mapping(schema)
    fields = dict(mapping["fields"])
    entry = fields.pop(name)
    new_mapping = {
        "fields": fields,
        "next_id": mapping["next_id"],
        "retired": list(mapping.get("retired") or []) + [entry["physical"]],
    }
    new_schema = StructType([f for f in schema.fields if f.name != name])

    scs = m.get("stats_cols") or []
    gone = {
        c
        for c in scs
        if c == name or (c.startswith(name + ".") and c not in mapping["fields"])
    }
    # the dropped column leaves the stats contract (dotted leaf entries
    # under it too); its physical-keyed per-file envelopes scrub with
    # it (a stale key would fail the fsck stats_envelopes audit)
    stats = _scrubbed_stats(m, scs, gone, entry["physical"])
    return _commit_ops(
        table_dir,
        _child_body(
            m,
            mode="drop_column",
            files=m["files"],
            n_rows=m["n_rows"],
            schema=new_schema.json(),
            column_mapping=new_mapping,
            dropped={"name": name, "id": entry["id"]},
            change_files=[],
            **stats,
        ),
        base_version=m["version"],
    )


def _scrubbed_stats(m: dict, scs: list[str], gone: set[str], phys: str) -> dict:
    """The stats change of a column DROP: when ``gone`` (the
    ``stats_cols`` entries the drop removes) is non-empty, the rest of
    the list and the per-file envelopes without the dropped physical
    path ``phys`` and anything under it (None when nothing is left);
    otherwise no change."""
    if not gone:
        return {}
    rest = [c for c in scs if c not in gone]
    scrubbed = {
        f: {
            c: e
            for c, e in ent.items()
            if c != phys and not c.startswith(phys + ".")
        }
        for f, ent in (m.get("stats") or {}).items()
    }
    return {
        "stats_cols": rest or None,
        "stats": {f: e for f, e in scrubbed.items() if e} if rest else None,
    }


def clone_table(
    src_dir: str,
    dst_dir: str,
    version: int | None = None,
) -> dict:
    """SHALLOW CLONE: create a NEW versioned table at ``dst_dir`` whose
    v1 snapshot is exactly ``src_dir``'s ``version`` (default: latest)
    — by reference, zero data copied (the Delta Lake ``CREATE TABLE ...
    SHALLOW CLONE`` pattern: fork a 100 TB production table into a
    dev/experiment sandbox as one manifest write). The clone then
    evolves INDEPENDENTLY: appends, deletes, schema evolution, tags,
    branches on the clone never touch the source chain, and vice versa
    — the two tables share bytes, not history.

    What carries by reference: data files, DV sidecars (a clone of a
    MOR table sees the same live rows), the recorded schema, and
    recorded add-file stats (file→envelope entries ride by value, so
    the clone's pruned reads skip files with zero footer I/O from day
    one). What does NOT carry: Bloom index dirs (they live under the
    source's ``_index`` namespace and vacuum(src) owns their lifecycle
    — the clone reads unpruned on key lookups until it builds its own),
    tags, branches, txn watermarks, and the source's HISTORY (the clone
    has no v0..v_n to time-travel into; its feed starts at its own v1).

    Divergence-safety is asymmetric, exactly as in Delta/Iceberg:

    - ``vacuum(dst)`` never deletes borrowed bytes — the sweeper skips
      files outside the table's own root, so dropping the clone's v1
      from its retention window cannot reach into the source.
    - ``vacuum(src)`` does NOT know about clones (no back-references,
      same as Delta): dropping the cloned-from version from the
      source's retention window deletes files the clone still needs.
      Tag the source version (:func:`tag_version`) for as long as the
      clone lives, or rewrite the clone to self-contained bytes
      (``optimize_table(dst)`` packs every live row into files under
      ``dst_dir`` — the materialize-a-clone path).

    ``dst_dir`` must not already be a versioned table (loud — a clone
    is a CREATE, never an implicit overwrite). Returns ``{"version",
    "cloned_from", "files", "data_files_written"}`` with
    ``data_files_written`` always 0."""
    if _version_numbers(dst_dir):
        raise ValueError(
            f"{dst_dir!r} is already a versioned table — clone creates a "
            "new table; point it at an empty directory"
        )
    src = load_manifest(src_dir, version)
    v = _commit_ops(
        dst_dir,
        _child_body(
            src,
            mode="clone",
            files=src["files"],
            n_rows=src["n_rows"],
            cloned_from={"table": _canon(src_dir), "version": src["version"]},
        ),
    )
    return {
        "version": v,
        "cloned_from": {"table": _canon(src_dir), "version": src["version"]},
        "files": len(src["files"]),
        "data_files_written": 0,
    }


def _empty_snapshot(spark: SparkSession, m: dict) -> DataFrame:
    """Zero-row frame for a manifest with NO data files (a delete can
    remove every row and stage no part files). Uses the schema the
    commit recorded; a pre-schema manifest that is also empty is
    unreadable and says so, instead of the bare parquet-reader
    TypeError."""
    from pyspark.sql.types import StructType

    sch = m.get("schema")
    if sch is None:
        raise ValueError(
            "snapshot has no data files and no recorded schema (manifest "
            "written before schemas were stored) — cannot construct the "
            "empty frame; read a non-empty version instead"
        )
    return spark.createDataFrame([], StructType.fromJson(json.loads(sch)))


def read_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    tag: str | None = None,
    branch: str | None = None,
) -> DataFrame:
    """The table at ``version`` (default: latest) — a parquet scan of
    exactly that manifest's file list; nothing a later commit does can
    change what this returns. A snapshot whose file list is empty reads
    as a zero-row frame with the committed schema. Deletion vectors the
    manifest records (merge-on-read deletes, see :func:`delete_version`
    ``mode='mor'``) are applied here — an anti-join on the physical row
    identity, O(deleted rows). ``tag`` reads the version a named tag
    pinned (:func:`tag_version`); ``branch`` reads that branch's chain
    (:func:`create_branch`) — ``version`` is then branch-local.
    ``tag`` with ``branch`` is ambiguous and loud (tags pin main)."""
    if tag is not None:
        if version is not None or branch is not None:
            raise ValueError("pass version OR tag (tags pin main versions)")
        all_tags = tags(table_dir)
        if tag not in all_tags:
            raise ValueError(f"tag {tag!r} not found (have {sorted(all_tags)})")
        version = all_tags[tag]
    m = load_manifest(table_dir, version, branch)
    if not m["files"]:
        return _empty_snapshot(spark, m)
    return _live_scan(spark, m)


def read_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
    info: dict | None = None,
) -> DataFrame:
    """Change data feed between two versions, computed FROM THE
    MANIFESTS: the multiset of row changes that turns
    ``snapshot(from_version)`` into ``snapshot(to_version)`` (default:
    latest), as one row per change occurrence with the table's columns
    plus ``_change_type`` ('insert' | 'delete'; an update surfaces as a
    delete+insert pair — the keyless-CDF convention). ``from_version=0``
    means "before the first commit": every live row of ``to_version``
    is an insert (the bootstrap read for an incremental consumer).

    Cost is O(changed files), never O(table) — the property the
    manifests buy. The two file lists are diffed driver-side
    (metadata-only):

    - files in BOTH manifests with UNCHANGED deletion vectors carry
      identical live rows → contribute nothing and are NEVER scanned;
    - added / removed files are scanned on their side only; a
      copy-on-write rewrite's carried rows appear on both sides and
      cancel in the multiset diff, leaving exactly the row-level
      changes scoped to the touched files;
    - a common file whose DV set changed (merge-on-read deletes) is
      scanned on both sides with each side's DVs applied — the diff
      yields precisely the newly-deleted rows.

    The diff itself is one groupBy over the scoped scans (all table
    columns as keys; SQL grouping treats NULLs as equal, which is the
    multiset semantics wanted), summing −1 for before-rows and +1 for
    after-rows; non-zero nets explode into per-occurrence change rows.
    Columns must therefore be group-able (no map type — loud error
    from Spark if so).

    Schema evolution between the versions is conformed to the UNION
    schema (the evolved read semantics: absent columns read as NULL on
    the older side); a per-column TYPE change between the versions is
    refused loudly — only an overwrite can change types, and an
    overwrite replaces the whole file set anyway (diff two reads
    manually in that case).

    ``info`` (optional dict) is filled with ``files_before``,
    ``files_after``, ``files_scanned_before``, ``files_scanned_after``
    so callers and tests can assert the scoping actually skipped the
    carried files.

    Commit-time change files: when every commit in the range recorded
    its change set (``change_files=True`` on the DML / OPTIMIZE /
    RESTORE paths), the feed is computed from the recorded sets alone
    — O(changed rows), no snapshot file opened at all — and ``info``
    additionally carries ``change_files_used``. One commit without a
    recorded set falls back to the snapshot multiset diff.

    Composes with :func:`operators.rollup.refresh_rollup`: feed
    ``read_changes(dir, last_seen, v).filter("_change_type =
    'insert'")`` as the increment on an append-only table — the
    incremental producer meeting the incremental consumer.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    vs = _version_numbers(table_dir)
    if to_version is None:
        if not vs:
            raise ValueError(f"no committed versions under {table_dir!r}")
        to_version = vs[-1]
    if from_version == 0:
        m_from: dict = {"files": [], "n_rows": 0, "schema": None, "dv_files": []}
    else:
        m_from = load_manifest(table_dir, from_version)
    m_to = load_manifest(table_dir, to_version)
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} > to_version {to_version} — the "
            "feed is forward-only; swap the arguments and invert the "
            "change types if you need the reverse diff"
        )

    # ---- union schema (evolved reads NULL-fill; type changes refuse) ----
    def _schema_of(m: dict) -> StructType:
        if m.get("schema") is not None:
            return StructType.fromJson(json.loads(m["schema"]))
        if not m["files"]:
            return StructType([])
        return spark.read.parquet(*m["files"]).schema

    sch_from, sch_to = _schema_of(m_from), _schema_of(m_to)
    # column mapping across the range: when both endpoints carry field
    # ids, re-alias the FROM side to the TO side's logical names for
    # shared ids — a renamed column diffs as ITSELF (by id), not as a
    # drop+add of every row (Delta's CDF-under-column-mapping rule)
    map_from, map_to = _col_mapping(m_from), _col_mapping(m_to)
    ren_from: dict[str, str] = {}
    if map_from and map_to:
        id_to_l = {e["id"]: l for l, e in map_to["fields"].items()}
        ren_from = {
            l: id_to_l[e["id"]]
            for l, e in map_from["fields"].items()
            if e["id"] in id_to_l and id_to_l[e["id"]] != l
        }
    elif map_to and not map_from and from_version > 0:
        # PRE-MAPPING from side (e.g. the mapping was minted by a
        # rename-overwrite inside the range): an unmapped version's
        # logical names ARE its physical names — the to-side's frozen
        # physicals identify the same fields, which is exactly the
        # by-name semantics an unmapped table has
        from_names = {f.name for f in sch_from.fields}
        ren_from = {
            e["physical"]: l
            for l, e in map_to["fields"].items()
            if e["physical"] != l and e["physical"] in from_names
        }
    if ren_from:
        from pyspark.sql.types import StructField

        sch_from = StructType(
            [
                StructField(
                    ren_from.get(f.name, f.name), f.dataType, f.nullable
                )
                for f in sch_from.fields
            ]
        )
    # NESTED renames by field id: when a shared-id column's types
    # differ between the endpoints but resolve to the SAME physical
    # shape under each side's nested map, the difference is pure
    # renaming — conform the FROM side to the TO side's type (one
    # positional struct cast, NULL-preserving) instead of refusing.
    # Same logical shape over DIFFERENT physical layouts (an overwrite
    # re-created nested fields) is the nested analog of the
    # duplicate-physical hazard — force the snapshot diff there.
    nested_cast: dict[str, object] = {}
    nested_layout_conflict = False
    if map_to and (map_from or from_version > 0):
        from pyspark.sql.types import StructField

        to_types = {f.name: f.dataType for f in sch_to.fields}
        ft_types = {f.name: f.dataType for f in sch_from.fields}
        e_from_by_id = (
            {e["id"]: (l, e) for l, e in map_from["fields"].items()}
            if map_from
            else None
        )
        for l_to, e_to in map_to["fields"].items():
            if e_from_by_id is not None:
                hit = e_from_by_id.get(e_to["id"])
                if not hit:
                    continue
                l_from_orig, e_from = hit
                l_shared = ren_from.get(l_from_orig, l_from_orig)
                from_nested = _nested_of(e_from)
            else:
                # PRE-MAPPING from side (the mapping was minted inside
                # the range): its logical names AND nested layout ARE
                # its physical ones — the ren_from branch above already
                # re-aliased the matched column to the to-side logical,
                # and its nested layout compares as identity (the
                # nested analog of that branch: a pure leaf/enclosing
                # rename leaves the physical shape equal, so it casts;
                # a restructure differs and refuses below)
                l_shared = l_to if l_to in ft_types else None
                if l_shared is None:
                    continue
                from_nested = {}
            ft, tt = ft_types.get(l_shared), to_types.get(l_to)
            if ft is None or tt is None:
                continue
            pf = _phys_dtype(ft, from_nested)
            pt = _phys_dtype(tt, _nested_of(e_to))
            if ft != tt and pf == pt:
                nested_cast[l_shared] = tt
            elif ft == tt and pf != pt:
                nested_layout_conflict = True
        if nested_cast:
            sch_from = StructType(
                [
                    StructField(
                        f.name,
                        nested_cast.get(f.name, f.dataType),
                        f.nullable,
                    )
                    for f in sch_from.fields
                ]
            )
    from_types = {f.name: f.dataType for f in sch_from.fields}
    conflicts = sorted(
        f.name
        for f in sch_to.fields
        if f.name in from_types and from_types[f.name] != f.dataType
    )
    if conflicts:
        raise ValueError(
            f"column types changed between v{from_version} and "
            f"v{to_version} ({conflicts}) — a type change only happens "
            "via overwrite (full replacement); diff the two snapshots "
            "directly instead of reading a change feed across it"
        )
    union_fields = list(sch_to.fields) + [
        f for f in sch_from.fields if f.name not in {g.name for g in sch_to.fields}
    ]
    cols = [f.name for f in union_fields]
    reserved = {"_change_type", "__cdf_delta", "__cdf_net", "__cdf_i", "__cdf_chunk"}
    clash = sorted(reserved & set(cols))
    if clash:
        raise ValueError(f"table columns collide with CDF reserved names {clash}")

    def conform(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                F.col(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in union_fields
            ]
        )

    # ---- commit-time change files: the O(changed rows) fast path ----
    # When EVERY commit in (from, to] recorded its change set (a
    # ``change_files`` manifest key — possibly empty, as OPTIMIZE
    # writes), the concatenated sets net to exactly the range diff by
    # induction (each commit's set turns snapshot v-1 into v), with
    # ZERO snapshot file I/O — a rewrite's carried files are never even
    # named. One commit without the key falls back to the snapshot
    # multiset diff below, which is always correct.
    from_files, to_files = set(m_from["files"]), set(m_to["files"])
    if from_version > 0:
        # lazy walk: stop at the first commit without a recorded set
        # instead of paying O(range) manifest loads before falling back
        range_mans: list[dict] | None = []
        for v in range(from_version + 1, to_version + 1):
            mm = load_manifest(table_dir, v)
            if "change_files" not in mm:
                range_mans = None
                break
            range_mans.append(mm)
        # (the lookup below keys physical names; a range straddling an
        # overwrite that REUSED a retired physical for a new field id
        # would alias two logical columns onto one physical — fall back
        # to the snapshot diff for that rare shape; ditto the nested
        # analog detected above)
        _pl: dict[str, str] = {}
        _pe: dict[str, dict] = {}
        if map_from:
            for _l, _e in map_from["fields"].items():
                _pl[ren_from.get(_l, _l)] = _e["physical"]
                _pe[ren_from.get(_l, _l)] = _e
        if map_to:
            for _l, _e in map_to["fields"].items():
                _pl[_l] = _e["physical"]
                _pe[_l] = _e
        _dup_phys = (
            len(set(_pl.values())) != len(_pl) or nested_layout_conflict
        )
        # recorded change files can be gone while their manifests
        # remain (vacuum keeps retained manifests' sets, but a manual
        # sweep / partial restore can orphan them) — the fast path is
        # an optimization, so a missing path degrades to the snapshot
        # multiset diff below instead of erroring; the stat walk is
        # O(change files), driver-side
        if range_mans is not None and any(
            not os.path.exists(p)
            for mm in range_mans
            for p in mm["change_files"]
        ):
            range_mans = None
        if range_mans and not _dup_phys:
            from pyspark.sql.types import StringType, StructField

            paths = [p for mm in range_mans for p in mm["change_files"]]
            if info is not None:
                info.update(
                    files_before=len(from_files),
                    files_after=len(to_files),
                    files_scanned_before=0,
                    files_scanned_after=0,
                    change_files_used=len(paths),
                )
            # change files store PHYSICAL names under column mapping —
            # field ids are stable (and nested physicals are FROZEN
            # across nested renames), so one logical→physical lookup
            # (to-side preferred, from-side for columns dropped since)
            # covers every commit in the range; nested renames come
            # back via the positional struct cast
            phys_lookup = _pl

            def _cf_ptype(f):
                return _phys_dtype(f.dataType, _nested_of(_pe.get(f.name)))

            cf_schema = StructType(
                [
                    StructField(
                        phys_lookup.get(f.name, f.name), _cf_ptype(f), True
                    )
                    for f in union_fields
                ]
                + [StructField("_change_type", StringType(), True)]
            )
            # pinned-schema read: a change file predating an evolved
            # column reads NULL for it, same as the snapshot readers
            rows = (
                spark.read.schema(cf_schema).parquet(*paths)
                if paths
                else spark.createDataFrame([], cf_schema)
            )
            if any(
                phys_lookup.get(f.name, f.name) != f.name
                or _cf_ptype(f) != f.dataType
                for f in union_fields
            ):
                rows = rows.select(
                    *[
                        (
                            F.col(phys_lookup.get(f.name, f.name)).cast(
                                f.dataType
                            )
                            if _cf_ptype(f) != f.dataType
                            else F.col(phys_lookup.get(f.name, f.name))
                        ).alias(f.name)
                        for f in union_fields
                    ],
                    F.col("_change_type"),
                )
            signed = rows.withColumn(
                "__cdf_delta",
                F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            ).drop("_change_type")
            return _net_change_rows(signed, cols)

    # ---- scope: which files can hold a change ----
    added = to_files - from_files
    removed = from_files - to_files
    common = from_files & to_files
    dv_changed: set[str] = set()
    dvs_from = set(m_from.get("dv_files") or [])
    dvs_to = set(m_to.get("dv_files") or [])
    # DV sidecars are immutable and carried BY REFERENCE, so sidecars
    # both manifests name contribute identical (file, pos) rows that
    # cancel exactly in the symmetric difference — scope the scan to
    # the sidecars only ONE side names. Identical lists short-circuit
    # to "no DV change" without launching any job (the incremental
    # consumer polling an append-only table with a large accumulated
    # DV history must not pay an O(deleted rows) scan per poll).
    if common and dvs_from != dvs_to:
        empty_dv = spark.createDataFrame([], "file string, pos long")

        def _side(only: set[str]) -> DataFrame:
            frame = _dv_frame(spark, {"dv_files": sorted(only)})
            return empty_dv if frame is None else frame

        dv_f = _side(dvs_from - dvs_to)
        dv_t = _side(dvs_to - dvs_from)
        common_df = spark.createDataFrame(
            [(f,) for f in sorted(common)], "file string"
        )
        scoped_f = dv_f.join(common_df, "file", "left_semi")
        scoped_t = dv_t.join(common_df, "file", "left_semi")
        # symmetric difference of the (file, pos) sets; the collect is
        # bounded by DISTINCT FILE count, not DV rows
        delta = scoped_t.exceptAll(scoped_f).unionByName(
            scoped_f.exceptAll(scoped_t)
        )
        dv_changed = {r["file"] for r in delta.select("file").distinct().collect()}
    scope_before = sorted(removed | dv_changed)
    scope_after = sorted(added | dv_changed)
    if info is not None:
        info.update(
            files_before=len(from_files),
            files_after=len(to_files),
            files_scanned_before=len(scope_before),
            files_scanned_after=len(scope_after),
        )

    union_schema = StructType(union_fields)
    empty = spark.createDataFrame([], union_schema)

    def _apply_ren(df: DataFrame) -> DataFrame:
        if not ren_from and not nested_cast:
            return df
        cols = []
        for c in df.columns:
            tgt = ren_from.get(c, c)
            expr = F.col(c)
            if tgt in nested_cast:
                expr = expr.cast(nested_cast[tgt])
            cols.append(expr.alias(tgt))
        return df.select(*cols)

    before = (
        conform(_apply_ren(_live_scan(spark, m_from, files=scope_before)))
        if scope_before
        else empty
    )
    after = (
        conform(_live_scan(spark, m_to, files=scope_after))
        if scope_after
        else empty
    )
    signed = before.withColumn("__cdf_delta", F.lit(-1)).unionByName(
        after.withColumn("__cdf_delta", F.lit(1))
    )
    return _net_change_rows(signed, cols)


def _net_change_rows(signed: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Net ±1-signed row occurrences (``__cdf_delta``) into
    per-occurrence change rows — :func:`read_changes`'s shared tail for
    the snapshot-diff and change-file paths.

    Multiplicity expansion is CHUNKED: a single sequence(1, net) builds
    the whole per-group array in one unsafe row — a duplicate-heavy
    table (exactly what a dedup corpus holds) can put 1e8 identical
    tuples in one group, which is ~800 MB in one task and a hard
    error past Spark's max array length. Two nested explodes bound
    every materialized array at max(ceil(net/C), C) elements while
    emitting exactly net rows."""
    from pyspark.sql import functions as F

    net = (
        signed.groupBy(*cols)
        .agg(F.sum("__cdf_delta").alias("__cdf_net"))
        .filter(F.col("__cdf_net") != 0)
    )
    chunk = 4096
    n = F.abs(F.col("__cdf_net"))
    return (
        net.withColumn(
            "_change_type",
            F.when(F.col("__cdf_net") > 0, F.lit("insert")).otherwise(
                F.lit("delete")
            ),
        )
        .withColumn(
            "__cdf_chunk",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.expr(f"(abs(__cdf_net) - 1) div {chunk}"),
                )
            ),
        )
        .withColumn(
            "__cdf_i",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.least(
                        F.lit(chunk).cast("long"),
                        n - F.col("__cdf_chunk") * chunk,
                    ),
                )
            ),
        )
        .select(*cols, "_change_type")
    )


def prune_manifest_files(
    spark: SparkSession,
    files: Sequence[str],
    ranges: dict[str, tuple],
    recorded: dict | None = None,
    info: dict | None = None,
) -> list[str]:
    """File skipping over an explicit file list: keep only files whose
    per-file min/max footer envelope can intersect EVERY ``col: (lo,
    hi)`` range (inclusive bounds; ``None`` = unbounded on that side).

    This is what makes a predicate read of a 100 TB versioned table
    O(matching files) instead of O(table): the envelopes the layout
    job tightened (``operators/zorder.zorder_layout`` / range-clustered
    commits) are consulted BEFORE ``spark.read.parquet`` ever sees the
    file list. Footers are read distributed (``operators/lake.
    parquet_footer_stats``, non-strict); a file with unknown statistics
    for a range column is conservatively kept — pruning may only ever
    drop files that provably contain no qualifying row, so composing
    with the exact predicate is bit-identical to a full scan. The
    collect is bounded by file count × range columns, the same cost
    profile as any table format's metadata pass.

    ``recorded`` (a manifest's ``stats`` dict, see write_version
    ``stats_cols``): files whose recorded entry covers EVERY range
    column are decided DRIVER-SIDE with zero I/O; only the remainder
    pays the footer pass (skipped entirely when nothing remains).
    ``info``, when given, gains ``footer_files`` — how many files
    actually needed footers — so callers can pin the metadata-only
    contract.
    """
    from ..operators.lake import parquet_footer_stats

    if not ranges:
        if info is not None:
            info["footer_files"] = 0
        return list(files)
    recorded = recorded or {}
    drop: set[str] = set()
    need_footers: list[str] = []
    for f in files:
        ent = recorded.get(f)
        if ent is None or any(c not in ent for c in ranges):
            need_footers.append(f)
            continue
        for c, (lo, hi) in ranges.items():
            mn, mx = ent[c]
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                drop.add(f)
                break
    if info is not None:
        info["footer_files"] = len(need_footers)
    if need_footers:
        stats = parquet_footer_stats(
            spark, need_footers, list(ranges), strict=False
        ).collect()
        for r in stats:
            lo, hi = ranges[r["column"]]
            if r["min_val"] is None or r["max_val"] is None:
                continue  # unknown envelope — cannot prove absence, keep
            if (hi is not None and r["min_val"] > hi) or (
                lo is not None and r["max_val"] < lo
            ):
                drop.add(r["file"])
    return [f for f in files if f not in drop]


def _bloom_index_dir(table_dir: str, key_col: str, version: int) -> str:
    return os.path.join(table_dir, "_index", f"bloom_{key_col}", f"v{version:08d}")


def _usable_index_params(table_dir: str, key_col: str, version: int) -> dict | None:
    """The one definition of "is this index dir usable": directory
    present, geometry recorded, at least one parquet part. Returns the
    recorded params (with ``chain`` defaulted) or None — writer and
    reader share it so they can never drift on the predicate."""
    idx_dir = _bloom_index_dir(table_dir, key_col, version)
    params_path = os.path.join(idx_dir, "_params.json")
    if (
        not os.path.isdir(idx_dir)
        or not os.path.exists(params_path)
        or not any(f.endswith(".parquet") for f in os.listdir(idx_dir))
    ):
        return None
    with open(params_path) as fh:
        params = json.load(fh)
    params.setdefault("chain", [])
    return params


def _resolve_probe_index(
    table_dir: str, m: dict, key_phys: str
) -> tuple[int, dict] | None:
    """The version whose index dir answers probes at snapshot ``m``:
    ``m``'s own when present, else WALK BACK through versions whose
    FILE SET is identical to ``m``'s (metadata-only commits — rename,
    constraint changes, column-mapping enables — change zero files, so
    an earlier dir is exact for them; the first version with a
    DIFFERENT file set stops the walk: its index would be stale, and a
    stale index has false negatives). Bounded by the metadata-only run
    length. Returns (version, params) or None (no pruning)."""
    v = m["version"]
    p = _usable_index_params(table_dir, key_phys, v)
    if p is not None:
        return v, p
    files = set(m["files"])
    for pv in range(v - 1, 0, -1):
        try:
            pm = load_manifest(table_dir, pv)
        except ValueError:
            return None  # vacuumed past — cannot prove file-set equality
        if set(pm["files"]) != files:
            return None
        p = _usable_index_params(table_dir, key_phys, pv)
        if p is not None:
            return pv, p
    return None


def _index_chain_dirs(
    table_dir: str, key_col: str, version: int, params: dict
) -> list[str] | None:
    """Resolve the parquet directories composing ``version``'s index:
    its own dir plus every chained prior link (each holding only its
    commit's new-file rows). None if any link is missing/partless —
    the reader then skips pruning (conservative) and the writer falls
    back to a full rebuild."""
    dirs = [_bloom_index_dir(table_dir, key_col, version)]
    for link in params.get("chain", []):
        d = _bloom_index_dir(table_dir, key_col, int(link))
        if not os.path.isdir(d) or not any(
            f.endswith(".parquet") for f in os.listdir(d)
        ):
            return None
        dirs.append(d)
    return dirs


def index_params(
    table_dir: str, key_col: str, version: int | None = None
) -> dict | None:
    """The recorded Bloom-index parameters for one version's index on
    ``key_col`` (default: the latest committed version): ``{"m_bits",
    "k", "chain"}``, or None when that version has no usable index.
    ``chain == []`` means the dir is a FULL index (a fresh build or a
    compaction); a non-empty chain means the version's own dir holds
    only its commit's increment and the named prior dirs complete it
    (see :func:`maintain_bloom_index`). Metadata-only — lets callers
    and audits assert the maintenance mode a commit actually took
    (chained vs compacted) instead of trusting the cost story."""
    if version is None:
        vs = _version_numbers(table_dir)
        if not vs:
            raise ValueError(f"no committed versions under {table_dir!r}")
        version = vs[-1]
    m = load_manifest(table_dir, version)
    kphys = _phys_path(_col_mapping(m), key_col)
    hit = _resolve_probe_index(table_dir, m, kphys)
    return hit[1] if hit is not None else None


def write_bloom_index(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    version: int | None = None,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> str:
    """Build and persist the per-file Bloom index for ``key_col`` over
    one version's manifest (default: latest) — the at-rest half of
    equality-predicate file skipping. Run it after a commit (the
    Delta/Iceberg pattern: index maintenance rides the write path, so
    reads stay metadata-only); :func:`read_version_pruned` picks it up
    automatically for ``keys=`` predicates on that version.

    One pass over the key column (map-side-combined groupBy, sparse
    ``(file, word, bits)`` rows — at most ``m_bits/64`` per file);
    the index parquet lands under ``table_dir/_index`` keyed by
    version, so it is immutable alongside the snapshot it describes.
    The (m_bits, k) geometry is RECORDED next to the index
    (``_params.json``) and the pruned read probes with the recorded
    values — a probe hashed with different parameters than the build
    has false NEGATIVES, which would silently drop qualifying files.
    Returns the index directory path.

    Under column mapping, ``key_col`` (logical) resolves to its frozen
    PHYSICAL name here — the index dir is physical-keyed and the build
    hashes the physical column the data files store, so
    :func:`rename_column` never invalidates an index.
    """
    from ..operators.lake import build_file_bloom_index

    m = load_manifest(table_dir, version)
    v = m["version"]
    _refuse_repeated_leaf_m(m, [key_col], "index_cols")
    key_col = _phys_path(_col_mapping(m), key_col)
    # Chained indexes carry this version's dir BY REFERENCE
    # (maintain_bloom_index): a later version probes the union of its
    # chain's dirs with ITS recorded geometry. Rebuilding this dir in
    # place with a different (m_bits, k) would make those probes hash
    # with the wrong parameters — Bloom false NEGATIVES, silently
    # dropped rows — so refuse the mismatched rebuild outright. The
    # scan is over _index/bloom_<col>/v* dirs NEWER than v directly —
    # never the manifest list — so the guard costs O(index dirs after
    # v) params reads, not O(all versions) manifest loads: a rebuild
    # or compaction on a long-lived table with thousands of retained
    # versions stays metadata-cheap, matching the O(increment) story.
    idx_root = os.path.join(table_dir, "_index", f"bloom_{key_col}")
    later_versions = [x for x in _entry_versions(idx_root) if x > v]
    for lv in later_versions:
        p = _usable_index_params(table_dir, key_col, lv)
        if p is None or v not in (int(c) for c in p.get("chain", [])):
            continue
        if (int(p["m_bits"]), int(p["k"])) != (m_bits, k):
            raise ValueError(
                f"version {lv}'s index chain carries v{v}'s dir by "
                f"reference with recorded geometry "
                f"(m_bits={p['m_bits']}, k={p['k']}); rebuilding v{v} "
                f"with (m_bits={m_bits}, k={k}) would give that "
                "version's pruned reads Bloom false negatives. Rebuild "
                "the LATEST version with the new geometry instead (its "
                "chain resets), or pass the recorded geometry."
            )
    out = _bloom_index_dir(table_dir, key_col, v)
    if not m["files"]:
        # an empty snapshot (delete-all / empty-df overwrite) still
        # records its geometry with one empty part file: the dir stays
        # USABLE, so later commits keep inheriting the tuned (m_bits,
        # k) and index_params() keeps answering audits — dropping the
        # params here would silently reset tuning at the next rebuild
        from ..operators.lake import BLOOM_INDEX_SCHEMA

        idx = spark.createDataFrame([], BLOOM_INDEX_SCHEMA).repartition(1)
    else:
        idx = build_file_bloom_index(
            spark, m["files"], key_col, m_bits=m_bits, k=k
        )
    idx.write.mode("overwrite").parquet(out)
    with open(os.path.join(out, "_params.json"), "w") as fh:
        json.dump({"m_bits": m_bits, "k": k, "chain": []}, fh)
    return out


def maintain_bloom_index(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    version: int,
    new_files: Sequence[str],
    prior_version: int,
    max_chain: int = 8,
    geometry: tuple[int, int] | None = None,
) -> str:
    """TRUE O(increment) index maintenance for a commit that carries
    prior data files verbatim: the new version's index dir stores rows
    for ONLY the commit's new files, plus a ``chain`` in its recorded
    params naming the prior versions whose dirs complete it — prior
    index parquet is carried BY REFERENCE (the log-structured pattern),
    never read or rewritten at commit time. Per-commit cost is
    hash-the-increment + one params read, regardless of table size —
    a continuous ingest stream pays the same bounded cost per
    micro-batch forever.

    Copy-on-write merge/delete use the same path WITHOUT filtering the
    prior rows: a chained link may contain rows for files the commit
    rewrote or dropped, and that is provably harmless — the pruned
    read intersects Bloom-qualified files with the version's MANIFEST,
    so a qualified-but-dead file is simply ignored (rewritten files
    get fresh uuid paths, never reusing a dead identity). Stale rows
    only cost probe time, and compaction reclaims them.

    Compaction: when the chain would exceed ``max_chain`` links, fall
    back to a full :func:`write_bloom_index` rebuild (chain resets to
    []) — amortized O(table / max_chain) per commit, bounding both
    probe-time read amplification and stale-row accumulation.

    Geometry safety: new rows are built with the prior index's
    recorded (m_bits, k) — a mixed-geometry chain has false negatives
    on probe. If the prior version has no usable index, fall back to a
    full rebuild (at ``geometry`` when given, else the geometry last
    recorded before ``version``, else defaults). Passing
    an explicit ``geometry`` that DIFFERS from the prior recorded one
    also forces a full rebuild at the new geometry — the chain resets,
    which is the only safe way to re-tune a live index. Returns the
    version's index dir.

    Under column mapping the chain lives under the column's frozen
    PHYSICAL name (translated here via the commit's manifest; the
    full-rebuild fallbacks pass the LOGICAL name through —
    :func:`write_bloom_index` translates exactly once itself).
    """
    from ..operators.lake import build_file_bloom_index

    _m_here = load_manifest(table_dir, version)
    _refuse_repeated_leaf_m(_m_here, [key_col], "index_cols")
    kphys = _phys_path(_col_mapping(_m_here), key_col)
    # resolve the prior link through metadata-only commits (a rename /
    # constraint commit between two appends must not force a rebuild)
    hit = _resolve_probe_index(
        table_dir, load_manifest(table_dir, prior_version), kphys
    )
    link_v, params = hit if hit is not None else (prior_version, None)
    if params is None:
        # no usable prior index to chain onto: full rebuild, at the
        # explicit geometry when given, else whatever the table last
        # recorded (walk-back inheritance), else library defaults
        return _rebuild_bloom_index(spark, table_dir, key_col, version, geometry)
    m_bits, k = int(params["m_bits"]), int(params["k"])
    if geometry is not None and (int(geometry[0]), int(geometry[1])) != (m_bits, k):
        # explicit re-tune: a chain must be geometry-uniform, so the
        # new geometry starts a fresh full index (chain resets)
        return write_bloom_index(
            spark, table_dir, key_col, version=version,
            m_bits=int(geometry[0]), k=int(geometry[1]),
        )
    chain = [int(c) for c in params["chain"]] + [link_v]
    if len(chain) > max_chain or _index_chain_dirs(
        table_dir, kphys, link_v, params
    ) is None:
        # compaction / missing-link rebuild keeps the RECORDED geometry:
        # resetting a tuned index to defaults would silently raise the
        # false-positive rate every max_chain commits
        return write_bloom_index(
            spark, table_dir, key_col, version=version, m_bits=m_bits, k=k
        )
    out = _bloom_index_dir(table_dir, kphys, version)
    if new_files:
        idx = build_file_bloom_index(
            spark, new_files, kphys, m_bits=m_bits, k=k
        )
    else:
        # zero new files: one empty part file keeps the dir usable
        # (repartition(1) forces a part even from a 0-partition frame)
        from ..operators.lake import BLOOM_INDEX_SCHEMA

        idx = spark.createDataFrame([], BLOOM_INDEX_SCHEMA).repartition(1)
    idx.write.mode("overwrite").parquet(out)
    with open(os.path.join(out, "_params.json"), "w") as fh:
        json.dump({"m_bits": m_bits, "k": k, "chain": chain}, fh)
    return out


def read_version_pruned(
    spark: SparkSession,
    table_dir: str,
    ranges: dict[str, tuple] | None = None,
    version: int | None = None,
    keys: dict[str, Sequence] | None = None,
) -> tuple[DataFrame, dict]:
    """Predicate read of a versioned table WITH file skipping, then the
    exact predicate on the scan — bit-identical to
    ``read_version(...).filter(...)``, only the files read change.

    Three pruning passes, all metadata-only (partition map, then range
    envelopes, then Bloom):

    - ``keys`` on a PARTITION column (write_version ``partition_by``):
      the manifest's exact per-file value map — zero I/O, zero false
      positives, string-safe; unmapped files are kept conservatively.
    - ``ranges`` (``{col: (lo, hi)}``, inclusive, ``None`` =
      unbounded): per-file min/max footer envelopes
      (:func:`prune_manifest_files`) — effective on CLUSTERED columns.
    - ``keys`` (``{col: [values...]}``): the version's at-rest per-file
      Bloom index (:func:`write_bloom_index`), which prunes equality
      lookups on UNCLUSTERED high-cardinality columns where every
      envelope spans the whole domain. A key column with no persisted
      index for this version simply doesn't prune (the exact ``isin``
      filter still applies) — reads never build an index on the fly,
      because that would scan the very data pruning exists to skip.
      Probes use the (m_bits, k) geometry RECORDED with the index at
      build time (``_params.json``); a legacy index directory without
      recorded parameters is skipped entirely rather than probed with
      guessed geometry (a geometry mismatch has false negatives).

    Both passes are conservative (unknown envelope → keep; Bloom has
    no false negatives), so composing with the exact predicate cannot
    lose rows. Returns ``(df, info)`` with ``info = {"files_total",
    "files_read", "footer_files", "partition_skipped"}`` so callers (and tests) can assert
    the skipping actually happened — and, when the manifest carries
    recorded stats (write_version ``stats_cols``), that it happened
    with ZERO footer reads (``footer_files == 0``). An empty surviving list short-circuits to an
    empty frame with the table's schema — zero data files opened.
    """
    from pyspark.sql import functions as F

    ranges = ranges or {}
    keys = keys or {}
    m = load_manifest(table_dir, version)
    v = m["version"]
    if not m["files"]:
        df = _empty_snapshot(spark, m)
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        for col, vals in keys.items():
            df = df.filter(F.col(col).isin(list(vals)))
        return df, {
            "files_total": 0,
            "files_read": 0,
            "footer_files": 0,
            "partition_skipped": 0,
        }
    # partition pass first (strongest + cheapest): files whose RECORDED
    # partition value can't match an equality probe drop from the
    # manifest alone — exact (never a false positive), zero I/O, and it
    # covers string columns stats envelopes can't. Unmapped files (e.g.
    # rewritten by a COW path) are kept — conservative, never wrong.
    candidates = m["files"]
    # recorded envelopes, footer stats, index dirs AND the partition
    # layout are all keyed by the column's frozen PHYSICAL name —
    # translate the probe's logical names once; the exact filters
    # below stay logical
    _pphys = _phys_names(_col_mapping(m))
    part_cols = set(m.get("partition_cols") or [])
    part_map = m.get("partitions") or {}
    if keys and part_cols and part_map:
        for col, vals in keys.items():
            cp = _pphys.get(col, col)
            if cp not in part_cols:
                continue
            want = {_norm_part_value(v) for v in vals}
            if "" in want:
                # hive dir-encoding conflates '' with NULL (both land in
                # the null-sentinel dir, recorded as None) — an
                # empty-string probe must keep None-recorded files or
                # it would silently prune live rows; the exact filter
                # below still returns only the ''-rows
                want.add(None)
            candidates = [
                f
                for f in candidates
                if _canon(f) not in part_map
                or part_map[_canon(f)].get(cp) in want
            ]
    prune_info: dict = {}
    _prm = _col_mapping(m)
    phys_ranges = {_phys_path(_prm, c): b for c, b in ranges.items()}
    kept = prune_manifest_files(
        spark, candidates, phys_ranges, recorded=m.get("stats"),
        info=prune_info,
    )
    if kept and keys:
        from ..operators.lake import bloom_qualified_files

        types = None
        for col, vals in keys.items():
            cphys = _phys_path(_prm, col)
            hit = _resolve_probe_index(table_dir, m, cphys)
            if hit is None:
                continue  # no usable at-rest index: no pruning
            idx_v, params = hit
            # chained index (maintain_bloom_index): the version's dir
            # holds its commit's new-file rows; prior links complete it
            idx_dirs = _index_chain_dirs(table_dir, cphys, idx_v, params)
            if idx_dirs is None:
                continue  # a chain link is gone (e.g. vacuumed): no pruning
            if types is None:
                # probe typing: the manifest's recorded schema when
                # present (zero I/O), else one footer pass
                if m.get("schema") is not None:
                    from pyspark.sql.types import StructType

                    sch = StructType.fromJson(json.loads(m["schema"]))
                else:
                    sch = spark.read.parquet(*m["files"]).schema
                types = {f.name: f.dataType for f in sch}

            def _leaf_type(c: str):
                # dotted LOGICAL paths resolve to the nested leaf's
                # recorded type (exact top-level names win, mirroring
                # _phys_path); the probe must hash the type the build
                # read from the files
                if c in types or "." not in c:
                    return types[c]
                parts = c.split(".")
                _, leaf = _resolve_nested(types[parts[0]], parts[1:])
                return leaf.dataType

            try:
                qualified = {
                    _local_path(q)
                    for q in bloom_qualified_files(
                        spark,
                        spark.read.parquet(*idx_dirs),
                        col,
                        _leaf_type(col),
                        list(vals),
                        m_bits=int(params["m_bits"]),
                        k=int(params["k"]),
                    )
                }
            except Exception as e:  # noqa: BLE001 — filtered below
                # a concurrent vacuum() can sweep a chain dir between
                # _index_chain_dirs resolving it and the probe reading
                # it (see vacuum's docstring). Degrade conservatively:
                # skip pruning on this column (the exact isin filter
                # below still applies — correct, just unpruned) rather
                # than failing the read. Anything that is not a
                # missing-path failure propagates.
                # structural match (error class / wrapped java type)
                # with narrow message markers as fallback — see
                # _is_missing_path_error; a broad match (e.g. "does
                # not exist") would also swallow persistent misconfig
                # errors and permanently disable pruning with no signal
                if not _is_missing_path_error(e):
                    raise
                continue
            kept = [f for f in kept if _canon(f) in qualified]
            if not kept:
                break
    info = {
        "files_total": len(m["files"]),
        "files_read": len(kept),
        "footer_files": prune_info.get("footer_files", 0),
        "partition_skipped": len(m["files"]) - len(candidates),
    }
    if kept:
        # deletion vectors apply on the pruned scan too (scoped: DV rows
        # for pruned-out files never match) — bit-identical to the
        # unpruned read_version(...).filter(...) contract
        df = _live_scan(spark, m, files=kept)
    else:
        # schema-only read: the recorded schema when present (zero
        # I/O), else parquet footers of the full list — no rows either way
        df = _recorded_reader(spark, m).parquet(*m["files"]).filter(F.lit(False))
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    for col, vals in keys.items():
        df = df.filter(F.col(col).isin(list(vals)))
    return df, info


def verify_table(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    deep: bool = False,
) -> dict:
    """FSCK for a versioned table: audit that ``version`` (default
    latest) is internally consistent, and that the metadata the engine
    prunes and plans from actually describes the bytes on disk — the
    Delta ``FSCK REPAIR TABLE`` / Iceberg ``verify`` maintenance job a
    fleet runs after an incident (partial restore, manual file surgery,
    a vacuum raced wrong) BEFORE trusting pruned reads again.

    Metadata checks (always run, zero data I/O):

    - ``files_exist`` / ``dv_files_exist`` — every referenced data file
      and DV sidecar is present on disk (the failure a lost object or
      botched restore produces; a pruned read might HIDE it for months
      because the missing file keeps getting skipped).
    - ``schema_parses`` — the recorded schema deserializes.
    - ``stats_scoped`` / ``partitions_scoped`` — recorded stats and
      partition-map entries reference only manifest files (a stale
      entry can't resurrect a dead file into a plan).
    - ``txn_monotonic`` — per-app txn versions strictly increase across
      retained manifests (the exactly-once contract's invariant).

    Deep checks (``deep=True`` — reads data, O(snapshot); run in the
    maintenance window):

    - ``row_count`` — ``read_version().count()`` equals the manifest's
      ``n_rows`` (catches DV drift and double-counted commits).
    - ``stats_envelopes`` — each recorded per-file min/max equals a
      fresh footer read (catches a rewritten-in-place file, which
      immutable staging should make impossible — that's why it's worth
      checking).
    - ``partition_purity`` — each mapped file really holds exactly its
      recorded partition value (one scan, grouped by
      ``_metadata.file_path``; a violation means partition pruning
      would silently drop live rows — the one check that guards
      CORRECTNESS, not just latency).
    - ``constraints_hold`` (only when the table records CHECK
      constraints) — the live head satisfies every recorded constraint
      in one aggregation pass; the backstop for DML paths, which carry
      the contract without re-validating rewritten rows.

    Returns ``{"ok", "version", "checks": {name: {"ok", ...detail}},
    "errors": [...]}`` — never raises on a failed check (the caller is
    triaging; a raise would hide the rest of the report)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    m = load_manifest(table_dir, version)
    checks: dict[str, dict] = {}
    errors: list[str] = []

    def record(name: str, ok: bool, **detail) -> None:
        checks[name] = {"ok": bool(ok), **detail}
        if not ok:
            errors.append(f"{name}: {detail}")

    missing = [f for f in m["files"] if not os.path.exists(f)]
    record("files_exist", not missing, missing=missing[:5],
           n_missing=len(missing), n_files=len(m["files"]))
    dv = m.get("dv_files") or []
    dv_missing = [f for f in dv if not os.path.exists(f)]
    record("dv_files_exist", not dv_missing, missing=dv_missing[:5],
           n_missing=len(dv_missing), n_dv=len(dv))
    if m.get("change_files") is not None:
        # only audited when the commit recorded a change set (same
        # conditional policy as constraints_hold)
        cfs = m["change_files"]
        cf_missing = [f for f in cfs if not os.path.exists(f)]
        record("change_files_exist", not cf_missing,
               missing=cf_missing[:5], n_missing=len(cf_missing),
               n_change=len(cfs))
    cm = _col_mapping(m)
    if cm is not None:
        # mapping consistency (conditional, like constraints_hold):
        # every schema field mapped, ids and physical names unique,
        # retired names disjoint from active — a violation means reads
        # would project the wrong bytes, the worst kind of quiet wrong
        problems = []
        try:
            import json as _json

            from pyspark.sql.types import StructType as _ST

            sch_names = (
                [f.name for f in _ST.fromJson(_json.loads(m["schema"])).fields]
                if m.get("schema")
                else []
            )
            fields = cm.get("fields") or {}
            unmapped = [n for n in sch_names if n not in fields]
            if unmapped:
                problems.append(f"schema columns without mapping: {unmapped[:5]}")
            ids = [e["id"] for e in fields.values()] + [
                r["id"]
                for e in fields.values()
                for r in (e.get("nested") or {}).values()
            ]
            if len(ids) != len(set(ids)):
                problems.append("duplicate field ids")
            phys = [e["physical"] for e in fields.values()]
            if len(phys) != len(set(phys)):
                problems.append("duplicate physical names")
            # nested physicals must stay unique among siblings — checked
            # on the EFFECTIVE physical shape (mapped entries AND the
            # implicit identity siblings: a renamed field's frozen
            # physical colliding with an unrenamed literal sibling is
            # exactly the quiet-wrong shape this audit exists for)
            def _dup_struct_names(dt, at: str, out: list) -> None:
                from pyspark.sql.types import ArrayType as _AT
                from pyspark.sql.types import StructType as _STT

                while isinstance(dt, _AT):
                    dt = dt.elementType
                if not isinstance(dt, _STT):
                    return
                names_ = [f.name for f in dt.fields]
                if len(names_) != len(set(names_)):
                    out.append(f"duplicate nested physicals under {at}")
                for f in dt.fields:
                    _dup_struct_names(f.dataType, f"{at}.{f.name}", out)

            if m.get("schema"):
                sch_fields = _ST.fromJson(_json.loads(m["schema"])).fields
                for f in sch_fields:
                    e = fields.get(f.name)
                    if not e or not _nested_of(e):
                        continue
                    _dup_struct_names(
                        _phys_dtype(f.dataType, _nested_of(e)),
                        f.name,
                        problems,
                    )
            clash = set(phys) & set(cm.get("retired") or [])
            if clash:
                problems.append(f"active physicals also retired: {sorted(clash)[:5]}")
            if ids and max(ids) >= cm.get("next_id", 0):
                problems.append("next_id not past the max assigned id")
        except Exception as e:  # noqa: BLE001 — audit reports, never raises
            problems.append(f"mapping unreadable: {str(e)[:120]}")
        record("mapping_consistent", not problems, problems=problems[:5])
    schema = None
    try:
        if m.get("schema") is not None:
            schema = StructType.fromJson(json.loads(m["schema"]))
        record("schema_parses", True, recorded=m.get("schema") is not None)
    except Exception as e:  # noqa: BLE001 — audit reports, never raises
        record("schema_parses", False, error=str(e)[:200])
    file_set = {_canon(f) for f in m["files"]}
    stray_stats = [f for f in (m.get("stats") or {}) if f not in file_set]
    record("stats_scoped", not stray_stats, stray=stray_stats[:5])
    stray_parts = [
        f for f in (m.get("partitions") or {}) if f not in file_set
    ]
    record("partitions_scoped", not stray_parts, stray=stray_parts[:5])
    last_txn: dict[str, int] = {}
    txn_ok, txn_detail = True, []
    for rv in _version_numbers(table_dir):
        if rv > m["version"]:
            break
        t = load_manifest(table_dir, rv).get("txn")
        if not t:
            continue
        app, tv = t["app"], int(t["version"])
        if app in last_txn and tv <= last_txn[app]:
            txn_ok = False
            txn_detail.append(f"v{rv}: {app} {tv} <= {last_txn[app]}")
        last_txn[app] = tv
    record("txn_monotonic", txn_ok, violations=txn_detail[:5])

    deep_possible = not missing and not dv_missing and schema is not None
    if deep and deep_possible:
        n = read_version(spark, table_dir, version=m["version"]).count()
        record("row_count", n == m["n_rows"], actual=n,
               recorded=m["n_rows"])
        stats_cols = m.get("stats_cols") or []
        recorded = m.get("stats") or {}
        if stats_cols and recorded:
            _fmap = _col_mapping(m)
            fresh = _stats_for_files(
                spark,
                sorted(recorded),
                [_phys_path(_fmap, c) for c in stats_cols],
            )
            bad = [
                f"{f}:{c}"
                for f, env in recorded.items()
                for c, lohi in env.items()
                if fresh.get(f, {}).get(c) != list(lohi)
            ]
            record("stats_envelopes", not bad, mismatched=bad[:5],
                   n_checked=sum(len(e) for e in recorded.values()))
        ccs = m.get("constraints") or {}
        if ccs:
            cc_items = sorted(ccs.items())
            live = read_version(spark, table_dir, version=m["version"])
            aggs = [
                F.sum(
                    F.when(F.coalesce(F.expr(cexpr), F.lit(False)), 0)
                    .otherwise(1)
                )
                .cast("long")
                .alias(f"__viol_{i}")
                for i, (_, cexpr) in enumerate(cc_items)
            ]
            vrow = live.agg(*aggs).first()
            viol = {
                cname: int(vrow[f"__viol_{i}"] or 0)
                for i, (cname, _) in enumerate(cc_items)
                if vrow[f"__viol_{i}"]
            }
            record("constraints_hold", not viol, violations=viol,
                   n_constraints=len(ccs))
        gens = m.get("generated_cols") or {}
        if gens:
            g_items = sorted(gens.items())
            live_g = read_version(spark, table_dir, version=m["version"])
            have = [
                (i, g, x) for i, (g, x) in enumerate(g_items)
                if g in live_g.columns
            ]
            g_missing = [g for g, _ in g_items if g not in live_g.columns]
            g_bad: dict[str, int] = {}
            if have:
                aggs_g = [
                    F.sum(
                        F.when(
                            F.col(g).eqNullSafe(F.expr(x)), 0
                        ).otherwise(1)
                    )
                    .cast("long")
                    .alias(f"__gen_{i}")
                    for i, g, x in have
                ]
                grow = live_g.agg(*aggs_g).first()
                g_bad = {
                    g: int(grow[f"__gen_{i}"] or 0)
                    for i, g, _ in have
                    if grow[f"__gen_{i}"]
                }
            record(
                "generated_match",
                not g_bad and not g_missing,
                mismatches=g_bad,
                missing_columns=g_missing,
                n_generated=len(gens),
            )
        part_cols = m.get("partition_cols") or []
        # stray entries (files not in the manifest) are already reported
        # by partitions_scoped — scanning them here would crash the
        # purity check on a nonexistent path and hide the real report
        part_map = {
            f: v
            for f, v in (m.get("partitions") or {}).items()
            if f in file_set
        }
        if part_cols and part_map:
            # part_cols are PHYSICAL names (what the files store) —
            # scan with the physical schema so a renamed partition
            # column audits against the same bytes the layout keyed
            scan = (
                spark.read.schema(
                    _physical_schema(schema, _col_mapping(m))
                )
                .parquet(*sorted(part_map))
                .select(
                    F.col("_metadata.file_path").alias("__fsck_file"),
                    *[_qcol(c) for c in part_cols],
                )
            )
            aggs = []
            for c in part_cols:
                aggs += [
                    F.countDistinct(_qcol(c)).alias(f"__nd_{c}"),
                    F.min(_qcol(c)).cast("string").alias(f"__v_{c}"),
                    F.sum(
                        _qcol(c).isNull().cast("long")
                    ).alias(f"__nn_{c}"),
                ]
            impure = []
            for r in scan.groupBy("__fsck_file").agg(*aggs).collect():
                f = _local_path(r["__fsck_file"])
                rec = part_map.get(f, {})
                for c in part_cols:
                    want = rec.get(c)
                    if want is None:
                        # the hive null sentinel holds NULL **and ''**
                        # rows (dir-encoding conflates them) — both are
                        # pure for a None-recorded file; the pruning
                        # passes apply the matching conflation rule
                        ok_f = r[f"__nd_{c}"] == 0 or (
                            r[f"__nd_{c}"] == 1 and r[f"__v_{c}"] == ""
                        )
                    else:
                        ok_f = (
                            r[f"__nd_{c}"] == 1
                            and r[f"__nn_{c}"] == 0
                            and r[f"__v_{c}"] == want
                        )
                    if not ok_f:
                        impure.append(f"{f}:{c}")
            record("partition_purity", not impure, impure=impure[:5],
                   n_checked=len(part_map))
    elif deep:
        record("deep_skipped", False,
               reason="missing files or unparseable schema — metadata "
               "checks above localize it")
    return {
        "ok": all(c["ok"] for c in checks.values()),
        "version": m["version"],
        "checks": checks,
        "errors": errors,
    }


def vacuum(
    table_dir: str,
    keep_last: int = 2,
    older_than_hours: float | None = None,
) -> dict:
    """Drop manifests older than the newest ``keep_last`` versions —
    except versions committed within the last ``older_than_hours``
    (the Delta ``VACUUM ... RETAIN N HOURS`` promise: time travel over
    the audit window survives regardless of commit rate; ``keep_last``
    stays the count floor) and versions pinned by a tag
    (:func:`tag_version`), which are
    retained with their data files and index dirs until the tag is
    deleted — delete data files no retained version references (files
    and DV sidecars any BRANCH manifest references are likewise
    retained until :func:`delete_branch`), and
    sweep EVERY
    at-rest Bloom index dir that is neither a retained version's own
    nor a live link in a retained version's recorded chain
    (:func:`maintain_bloom_index` carries prior index parquet by
    reference, so a dropped version's dir may outlive its manifest as
    a chain link). The sweep walks ``_index/bloom_*/v*`` directly, not
    this call's dropped manifests: once compaction resets a chain, a
    link dir orphaned by an EARLIER vacuum has no manifest left to
    visit — a manifest-driven walk would leak it forever (one dir per
    pre-compaction version on a continuous ingest stream).

    Deletion-vector sidecars (``_dv/*``, merge-on-read deletes) sweep
    the same way as index dirs — a FULL walk of the ``_dv`` namespace,
    dropping every sidecar directory no retained manifest's
    ``dv_files`` references: DV sidecars are carried by reference
    across commits exactly like chain links, so a manifest-driven walk
    would leak compaction-folded sidecars the same way. This also
    reclaims sidecars a crashed MOR delete staged but never committed
    — and it is why vacuum must not run CONCURRENTLY with an in-flight
    MOR delete on the same table (the sidecar is staged before the
    manifest references it); both are write operations, so the
    module's single-writer-per-table convention already covers it.
    Returns {"versions_dropped", "files_deleted", "indexes_dropped",
    "dv_dirs_dropped"}.
    Time travel shrinks to the retained window — run it when the audit
    horizon allows.

    Reader race: like the data-file sweep, the index sweep can delete a
    dir a concurrent :func:`read_version_pruned` of a NOW-DROPPED
    version already resolved into its probe plan (the chain makes old
    dirs live longer, so the window is wider than for data files). The
    pruned read degrades conservatively — a probe that fails because an
    index path vanished mid-read falls back to the unpruned file list
    for that column (never a wrong answer, see read_version_pruned) —
    but a reader pinned to a dropped version can still lose its DATA
    files; vacuum only when every reader is on a retained version, the
    same caveat as time travel.

    Tagger race (the write-side analog): a ``tag_version()`` racing a
    running vacuum can pin a version whose manifest/data files this
    call is about to delete, leaving a tag that resolves to a missing
    manifest. The tag dir is re-read immediately before the delete
    phase (a late tag seen there is honored), which narrows the window
    to the sweep itself; closing it entirely needs a table-level lock
    the single-writer convention doesn't carry — tag before vacuuming,
    the same discipline as "vacuum only when readers are on retained
    versions"."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if older_than_hours is not None and older_than_hours < 0:
        raise ValueError("older_than_hours must be >= 0")
    vs = _version_numbers(table_dir)
    # retention = the newest keep_last versions ∪ every TAGGED version
    # (tag_version): a tag is a promise that an audit can re-read that
    # snapshot by name — vacuum honors it until delete_tag withdraws it.
    # Read the tag dir TWICE — once up front, once right before any
    # delete — so a tagger that raced the first read is still honored
    # (see the tagger-race caveat in the docstring).
    tagged = set(tags(table_dir).values())
    # time-based retention (Delta `VACUUM ... RETAIN N HOURS`): a
    # version younger than the horizon is kept even outside keep_last —
    # the audit window is a TIME promise, keep_last the count floor
    recent: set[int] = set()
    if older_than_hours is not None:
        cutoff = time.time() - older_than_hours * 3600.0
        recent = {
            v
            for v in vs
            if load_manifest(table_dir, v).get("committed_at", 0) >= cutoff
        }
    keep = sorted(set(vs[-keep_last:]) | (tagged & set(vs)) | recent)
    drop = [v for v in vs if v not in set(keep)]
    keep_files = set()
    for v in keep:
        keep_files.update(load_manifest(table_dir, v)["files"])
    # tagger-race re-check: a tag_version() that landed between the
    # first tag read and here (the manifest loads above take real time
    # on a long-retained table) is honored — its version moves from
    # drop to keep before anything is deleted
    late = (set(tags(table_dir).values()) - tagged) & set(drop)
    if late:
        drop = [v for v in drop if v not in late]
        keep = sorted(set(keep) | late)
        for v in late:
            keep_files.update(load_manifest(table_dir, v)["files"])
    # branch retention: every file/DV any branch manifest references
    # stays until delete_branch — a dropped MAIN version's files may be
    # exactly what a fork carried (see create_branch)
    branch_files, branch_dv, branch_cf = _branch_referenced(table_dir)
    keep_files |= branch_files
    # index dirs still referenced: each retained version's own dir plus
    # every chain link its recorded params name, per index column
    index_root = os.path.join(table_dir, "_index")
    referenced: set[tuple[str, int]] = set()
    if os.path.isdir(index_root):
        for idx in os.listdir(index_root):
            if not idx.startswith("bloom_"):
                continue
            col = idx[len("bloom_"):]
            # pass 1: versions with their OWN dir pin it + chain links
            for v in keep:
                params = _usable_index_params(table_dir, col, v)
                if params is None:
                    continue
                referenced.add((idx, v))
                referenced.update((idx, int(c)) for c in params["chain"])
            # pass 2: metadata-only retained versions resolve the dir
            # their probes WALK BACK to (_resolve_probe_index) — without
            # this, renames/constraint commits would let vacuum silently
            # re-disable the pruning they no longer disable
            for v in sorted(keep):
                if _usable_index_params(table_dir, col, v) is not None:
                    continue
                try:
                    hit = _resolve_probe_index(
                        table_dir, load_manifest(table_dir, v), col
                    )
                except ValueError:
                    hit = None
                if hit is None:
                    continue
                iv, params = hit
                if iv not in keep and (idx, iv) not in referenced:
                    # RE-HOME the dir to this (oldest-such) retained
                    # version: post-vacuum the walk-back could no longer
                    # PROVE file-set equality down to a dropped version's
                    # manifest, so keeping the dir at its old number
                    # would strand it — the move re-keys it to a version
                    # vacuum just proved has the identical file set.
                    # (Skipped when a retained version's chain names the
                    # dir BY NUMBER — moving it would break that chain;
                    # the dir then stays put and this metadata-only
                    # version degrades to unpruned reads, conservative.)
                    os.rename(
                        _bloom_index_dir(table_dir, col, iv),
                        _bloom_index_dir(table_dir, col, v),
                    )
                    iv = v
                referenced.add((idx, iv))
                referenced.update((idx, int(c)) for c in params["chain"])
    deleted = 0
    # borrowed-bytes guard: a clone_table() manifest references files
    # under the SOURCE table's root — vacuum only ever deletes bytes
    # under its own table_dir, so dropping a clone's v1 from retention
    # cannot reach into the table it was forked from (Delta's shallow-
    # clone vacuum semantics). The inverse direction is the documented
    # caveat on clone_table: the source's vacuum has no back-references.
    own_root = _canon(table_dir) + os.sep
    for v in drop:
        m = load_manifest(table_dir, v)
        for f in m["files"]:
            if (
                f not in keep_files
                and _canon(f).startswith(own_root)
                and os.path.exists(f)
            ):
                os.remove(f)
                deleted += 1
        os.remove(_manifest_path(table_dir, v))
    # index cleanup is a FULL sweep of _index/bloom_*/v*, not a walk of
    # this call's dropped manifests: a dir preserved earlier as a live
    # chain link outlives its manifest, and once compaction resets the
    # chain nothing references it — a manifest-driven walk would never
    # revisit it and the dir would leak forever on a continuous ingest
    # stream. Retained versions' own dirs are always kept.
    retained = set(keep)
    indexes_dropped = 0
    if os.path.isdir(index_root):
        for idx in os.listdir(index_root):
            if not idx.startswith("bloom_"):
                continue
            idx_dir = os.path.join(index_root, idx)
            for vdir in sorted(os.listdir(idx_dir)):
                vn = _ventry_num(vdir)
                if vn is None or vn in retained or (idx, vn) in referenced:
                    continue
                # remove the LISTED name — reconstructing f"v{vn:08d}"
                # would silently no-op on a non-zero-padded dir while
                # still counting it as dropped
                shutil.rmtree(os.path.join(idx_dir, vdir), ignore_errors=True)
                indexes_dropped += 1
    # DV-sidecar sweep: full walk of _dv/* (same rationale as the index
    # sweep — sidecars are carried by reference, so dirs orphaned by
    # compaction or earlier vacuums have no manifest left to visit).
    # A sidecar dir's parquet files are referenced atomically (a commit
    # records every part of the dir it staged), so per-dir membership
    # of ANY file in the retained set means the dir is live.
    keep_dv: set[str] = set(branch_dv)
    for v in keep:
        keep_dv.update(load_manifest(table_dir, v).get("dv_files") or [])
    dv_root = os.path.join(table_dir, _DV_DIR)
    dv_dirs_dropped = 0
    if os.path.isdir(dv_root):
        for dv_dir in sorted(os.listdir(dv_root)):
            full = os.path.join(dv_root, dv_dir)
            if not os.path.isdir(full):
                continue
            parts = [
                _canon(os.path.join(full, f))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            ]
            if parts and any(p in keep_dv for p in parts):
                continue
            shutil.rmtree(full, ignore_errors=True)
            dv_dirs_dropped += 1
    # change-file sweep: identical full-walk shape as the DV sweep —
    # _change_data dirs are carried by reference in manifests, and a
    # conflict-aborted DML's staged change dir has no manifest at all,
    # so only a namespace walk reclaims every orphan.
    keep_cf: set[str] = set(branch_cf)
    for v in keep:
        keep_cf.update(load_manifest(table_dir, v).get("change_files") or [])
    cf_root = os.path.join(table_dir, _CHANGE_DIR)
    change_dirs_dropped = 0
    if os.path.isdir(cf_root):
        for cf_dir in sorted(os.listdir(cf_root)):
            full = os.path.join(cf_root, cf_dir)
            if not os.path.isdir(full):
                continue
            parts = [
                _canon(os.path.join(full, f))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            ]
            if parts and any(p in keep_cf for p in parts):
                continue
            shutil.rmtree(full, ignore_errors=True)
            change_dirs_dropped += 1
    return {
        "versions_dropped": len(drop),
        "files_deleted": deleted,
        "indexes_dropped": indexes_dropped,
        "dv_dirs_dropped": dv_dirs_dropped,
        "change_dirs_dropped": change_dirs_dropped,
    }
