"""Compute which roster queries changed since a base git ref, and
regenerate ``plans/registry_head.txt`` so those queries lead the
``queries()`` registry order.

Why: the external driver's correctness gate checks only the FIRST ~50
entries of ``__spark_entry__.queries()``.  Round 6 shipped a broken
query precisely because a late rewrite was never moved to the head, so
the gate could not see it.  This script derives the head order from the
actual git diff instead of hand curation.

Mapping rules (AST-based, so line drift is irrelevant):

- a changed line inside ``def qNN_...`` in plans/queries.py → that query;
- a changed line inside a helper function → every query whose source
  calls that helper (one-level closure);
- a changed line inside the ``ORACLES`` dict in plans/oracles.py → the
  entry whose key/value spans it; inside an oracle helper → every
  oracle whose value expression references it;
- a changed line in _QUERY_FNS → the keys on those lines;
- anything unmappable (imports, module constants, infra helpers) →
  ``fully_mapped=False``: callers must sweep the FULL roster, though
  the names that were attributed still lead the registry.

Usage: python scripts/registry_head.py BASE_REF
BASE_REF is required (the commit the change started from). When
nothing maps to a query the file is left as it is, so a hand-curated
head is never replaced by an empty one.
"""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "big_data_song_recommendation_spark")
QUERIES_PY = os.path.join(PKG, "plans", "queries.py")
ORACLES_PY = os.path.join(PKG, "plans", "oracles.py")
HEAD_TXT = os.path.join(PKG, "plans", "registry_head.txt")

_QNAME = re.compile(r"^q\d+")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def changed_new_lines(base: str, path: str) -> list[int]:
    """New-file line numbers touched since ``base`` (U0 hunk headers)."""
    rel = os.path.relpath(path, REPO)
    # ONE diff, base -> worktree: covers committed AND uncommitted
    # changes, and its +line numbers are worktree coordinates — the
    # same file we AST-parse.  (Concatenating a base..HEAD diff here
    # would mix in HEAD-coordinate line numbers that point at the
    # wrong function whenever uncommitted edits shift lines.)
    out = _git("diff", "-U0", base, "--", rel)
    lines: set[int] = set()
    for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", out, re.M):
        start = int(m.group(1))
        count = int(m.group(2)) if m.group(2) is not None else 1
        if count == 0:
            # pure deletion: the surrounding context line is the touchpoint
            lines.add(max(start, 1))
        else:
            lines.update(range(start, start + count))
    return sorted(lines)


def _functions(tree: ast.Module) -> list[ast.FunctionDef]:
    return [n for n in tree.body if isinstance(n, ast.FunctionDef)]


def _span(node: ast.AST) -> tuple[int, int]:
    return node.lineno, node.end_lineno or node.lineno


def queries_for_lines(src: str, lines: list[int]) -> tuple[set[str], bool]:
    """Map changed queries.py lines → (query names, fully_mapped).

    ``fully_mapped=False`` means some change couldn't be attributed
    (module-level code, or a helper no query calls) — callers must
    sweep the full roster, but the names found are still valid and
    still belong at the registry head.
    """
    tree = ast.parse(src)
    fns = _functions(tree)
    query_fns = {f.name: f for f in fns if _QNAME.match(f.name)}
    helper_fns = {f.name: f for f in fns if not _QNAME.match(f.name)}
    # one-level helper closure: helper name → queries whose body calls it
    helper_users: dict[str, set[str]] = {h: set() for h in helper_fns}
    for qname, qf in query_fns.items():
        seg = ast.get_source_segment(src, qf) or ""
        for h in helper_fns:
            if re.search(rf"\b{re.escape(h)}\s*\(", seg):
                helper_users[h].add(qname)
    # the _QUERY_FNS / registry dicts: map a line to the key on it
    dict_key_lines: dict[int, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            for k in node.keys:
                if isinstance(k, ast.Constant) and isinstance(k.value, str):
                    if _QNAME.match(k.value):
                        dict_key_lines[k.lineno] = k.value

    hit: set[str] = set()
    fully_mapped = True
    for ln in lines:
        if ln in dict_key_lines:
            hit.add(dict_key_lines[ln])
            continue
        owner = None
        for f in fns:
            lo, hi = _span(f)
            if lo <= ln <= hi:
                owner = f
                break
        if owner is None:
            # module-level change (imports, constants, registry...):
            # effects are global — caller must sweep everything
            fully_mapped = False
        elif owner.name in query_fns:
            hit.add(owner.name)
        else:
            users = helper_users.get(owner.name, set())
            if users:
                hit.update(users)
            else:
                # a helper nothing (visibly) calls — can't scope it
                fully_mapped = False
    return hit, fully_mapped


def oracles_for_lines(src: str, lines: list[int]) -> tuple[set[str], bool]:
    """Map changed oracles.py lines → (oracle keys, fully_mapped)."""
    tree = ast.parse(src)
    fns = _functions(tree)
    # the ORACLES dict: entry spans (key line .. value end line)
    entry_spans: list[tuple[int, int, str]] = []
    oracle_src: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            for k, v in zip(node.keys, node.values):
                if isinstance(k, ast.Constant) and isinstance(k.value, str):
                    if _QNAME.match(k.value):
                        entry_spans.append((k.lineno, v.end_lineno or k.lineno, k.value))
                        oracle_src[k.value] = ast.get_source_segment(src, v) or ""
    helper_users: dict[str, set[str]] = {}
    for f in fns:
        users = {
            name
            for name, seg in oracle_src.items()
            if re.search(rf"\b{re.escape(f.name)}\s*\(", seg)
        }
        helper_users[f.name] = users

    hit: set[str] = set()
    fully_mapped = True
    for ln in lines:
        owner_entry = next(
            (name for lo, hi, name in entry_spans if lo <= ln <= hi), None
        )
        if owner_entry:
            hit.add(owner_entry)
            continue
        owner_fn = next((f for f in fns if _span(f)[0] <= ln <= _span(f)[1]), None)
        users = helper_users.get(owner_fn.name, set()) if owner_fn else set()
        if users:
            hit.update(users)
        else:
            fully_mapped = False
    return hit, fully_mapped


def other_source_changed(base: str) -> list[str]:
    """Package source files (outside plans/queries+oracles) changed."""
    out = _git("diff", "--name-only", base, "--") + _git(
        "diff", "--name-only", base, "HEAD", "--"
    )
    rel_q = os.path.relpath(QUERIES_PY, REPO)
    rel_o = os.path.relpath(ORACLES_PY, REPO)
    hits = set()
    for line in out.splitlines():
        p = line.strip()
        if (
            p.startswith("big_data_song_recommendation_spark/")
            and p.endswith(".py")
            and p not in (rel_q, rel_o)
            and "registry_head" not in p
        ):
            hits.add(p)
    return sorted(hits)


def queries_for_module_change(base: str, path: str, qsrc: str) -> set[str]:
    """Map changed lines in a non-plans package module → queries whose
    source calls a changed top-level function (directly or via one
    level of same-module callers).  E.g. a change inside
    ``operators/dedup.prefix_filter_jaccard_pairs`` (or a private tail
    it extracted) puts every query calling that function at the
    registry head, so the driver's first-50 gate sees the round's
    operator edits, not only its queries.py edits."""
    lines = changed_new_lines(base, path)
    if not lines:
        return set()
    try:
        with open(path) as fh:
            msrc = fh.read()
        tree = ast.parse(msrc)
    except (OSError, SyntaxError):
        return set()
    fns = _functions(tree)
    changed_fns = {
        f.name
        for f in fns
        if any(_span(f)[0] <= ln <= _span(f)[1] for ln in lines)
    }
    # one-level same-module closure: callers of a changed function
    # also behave differently
    for f in fns:
        seg = ast.get_source_segment(msrc, f) or ""
        if any(
            re.search(rf"\b{re.escape(c)}\s*\(", seg) for c in set(changed_fns)
        ):
            changed_fns.add(f.name)
    qtree = ast.parse(qsrc)
    hit: set[str] = set()
    for qf in _functions(qtree):
        if not _QNAME.match(qf.name):
            continue
        seg = ast.get_source_segment(qsrc, qf) or ""
        if any(
            re.search(rf"\b{re.escape(c)}\s*\(", seg) for c in changed_fns
        ):
            hit.add(qf.name)
    return hit


def changed_queries(base: str) -> tuple[set[str], bool, list[str]]:
    """(query names changed since base, fully_mapped, other changed
    package files).  ``fully_mapped=False`` or a non-empty third element
    means a targeted sweep is NOT sufficient — sweep the full roster.
    """
    with open(QUERIES_PY) as fh:
        qsrc = fh.read()
    with open(ORACLES_PY) as fh:
        osrc = fh.read()
    ql = changed_new_lines(base, QUERIES_PY)
    ol = changed_new_lines(base, ORACLES_PY)
    qhit, qmap = queries_for_lines(qsrc, ql) if ql else (set(), True)
    ohit, omap = oracles_for_lines(osrc, ol) if ol else (set(), True)
    other = other_source_changed(base)
    mhit: set[str] = set()
    for rel in other:
        mhit |= queries_for_module_change(base, os.path.join(REPO, rel), qsrc)
    return qhit | ohit | mhit, qmap and omap, other


def write_head(names: set[str] | None) -> None:
    with open(HEAD_TXT, "w") as fh:
        fh.write("# generated by scripts/registry_head.py — queries changed\n")
        fh.write("# this round lead the registry so the driver's first-50\n")
        fh.write("# correctness gate always covers them.\n")
        for n in sorted(names or ()):
            fh.write(n + "\n")


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit("usage: python scripts/registry_head.py BASE_REF")
    base = sys.argv[1]
    names, fully_mapped, other = changed_queries(base)
    if names:
        write_head(names)
        print(f"base={base[:12]}: {len(names)} changed queries -> {HEAD_TXT}")
    else:
        print(f"base={base[:12]}: no changed queries; {HEAD_TXT} left as it is")
    for n in sorted(names):
        print(f"  {n}")
    if not fully_mapped:
        print("NOTE: some changes unattributable -> full sweep required")
    if other:
        print(f"NOTE: {len(other)} other package files changed (full sweep advised):")
        for p in other:
            print(f"  {p}")
    sys.exit(0 if fully_mapped and not other else 2)


if __name__ == "__main__":
    main()
