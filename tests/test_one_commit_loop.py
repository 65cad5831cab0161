"""Tripwire: each commit decision, and a snapshot's file set, has one home.

Every writer of freshly written data files commits through one local loop
(``LakeTable._commit_files`` over the one snapshot builder
``LakeTable._snapshot_files``) or one REST loop (``rest_catalog.
rest_commit``). A second ``except M.CommitConflictError`` retry loop, a
second HTTP 409 check or a second ``_carried_plus`` caller is how the
copies drifted apart before (two of them read every manifest of main on
each commit while the others carried main by manifest record), so a new
one must land here with its reason or not at all.

A snapshot's file set lives on ``metadata.Snapshot`` as its carried
manifest-list records (``manifests``) plus the entries in none of them
(``added``): only the metadata layer and the snapshot builder construct
snapshots or read those two fields; everyone else reads ``files`` or the
record-derived counts.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "tutorial_iceberg_spark"

# (file, enclosing def) -> (number of `except M.CommitConflictError`
# handlers, why this site is not the one loop)
CONFLICT_HANDLERS = {
    ("lakehouse/table.py", "LakeTable._commit_files"): (
        1, "the one local optimistic commit loop"),
    ("lakehouse/table.py", "LakeTable.compact"): (
        1, "re-validates its rewrite inputs against the rebased state"),
    ("lakehouse/table.py", "LakeTable.expire_snapshots"): (
        1, "recomputes the keep set on the rebased state"),
    ("lakehouse/transaction.py", "LakeTransaction._prepare_once"): (
        1, "burns the attempt's claims before re-raising"),
    ("lakehouse/transaction.py", "LakeTransaction.commit"): (
        1, "abort-and-retry of a whole multi-table prepare"),
    ("lakehouse/rest_catalog.py", "_Handler.do_POST"): (
        2, "the server maps a lost CAS (create or commit) to HTTP 409"),
}


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _sites(tree):
    """Yield (owner, node) for every node of a module: the owner is a
    module-level function ("f") or a method of a module-level class
    ("C.m"), and defs nested inside them belong to that owner; any other
    code is owned by "<module>"."""
    for top in tree.body:
        if isinstance(top, _DEFS):
            owned = [(top.name, top)]
        elif isinstance(top, ast.ClassDef):
            owned = [
                (f"{top.name}.{d.name}" if isinstance(d, _DEFS) else "<module>", d)
                for d in top.body
            ]
        else:
            owned = [("<module>", top)]
        for owner, root in owned:
            for node in ast.walk(root):
                yield owner, node


def _modules():
    for py in sorted(PKG.rglob("*.py")):
        yield py.relative_to(PKG).as_posix(), ast.parse(py.read_text())


def _catches_conflict(handler: ast.ExceptHandler) -> bool:
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(
        isinstance(t, ast.Attribute) and t.attr == "CommitConflictError" for t in types
    )


def test_conflict_retry_handlers_are_allowlisted():
    seen: dict[tuple[str, str], int] = {}
    for rel, tree in _modules():
        for owner, node in _sites(tree):
            if isinstance(node, ast.ExceptHandler) and node.type and _catches_conflict(node):
                seen[(rel, owner)] = seen.get((rel, owner), 0) + 1
    want = {site: n for site, (n, _why) in CONFLICT_HANDLERS.items()}
    assert seen == want, (
        "an `except CommitConflictError` outside the allowlist — commit new "
        "data files through LakeTable._commit_files, or list the site in "
        f"CONFLICT_HANDLERS with its reason: found {seen}"
    )


def test_http_409_is_handled_only_in_rest_commit():
    sites = [
        (rel, owner)
        for rel, tree in _modules()
        for owner, node in _sites(tree)
        if isinstance(node, ast.Compare)
        and any(
            isinstance(x, ast.Constant) and x.value == 409
            for x in [node.left, *node.comparators]
        )
    ]
    assert sites == [("lakehouse/rest_catalog.py", "rest_commit")], sites


def test_carried_plus_is_called_only_by_the_snapshot_builder():
    sites = [
        (rel, owner)
        for rel, tree in _modules()
        for owner, node in _sites(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "_carried_plus"
    ]
    assert sites == [("lakehouse/table.py", "LakeTable._snapshot_files")], sites


def test_snapshots_are_constructed_only_by_the_loader_and_the_builder():
    sites = {
        (rel, owner)
        for rel, tree in _modules()
        for owner, node in _sites(tree)
        if isinstance(node, ast.Call)
        and (
            (isinstance(node.func, ast.Name) and node.func.id == "Snapshot")
            or (isinstance(node.func, ast.Attribute) and node.func.attr == "Snapshot")
        )
    }
    assert sites == {
        ("lakehouse/metadata.py", "_from_json"),
        ("lakehouse/table.py", "LakeTable._new_snapshot"),
    }, sites


def test_manifest_records_are_read_only_by_metadata_and_the_builder():
    sites = {
        (rel, owner)
        for rel, tree in _modules()
        for owner, node in _sites(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.ctx, ast.Load)
        and node.attr in ("manifests", "added")
        and rel != "lakehouse/metadata.py"
    }
    # the append carry: the parent's records by reference, its added entries
    assert sites <= {("lakehouse/table.py", "LakeTable._carried_plus")}, sites
