"""Automated driver-evidence ledger (r7 verdict item 3).

Through r7 the "which queries need re-certification" analysis lived as
a hand-maintained comment block in ``queries/registry.py`` — correct
but drift-prone. This tool DERIVES it:

* ``CORRECTNESS_r*.json`` gives, per query, every driver row and its
  kind (exact hash-green / rows-only / bad).
* Each round's evidence was produced at the PARENT of that round's
  ``round N: verdict/advice/correctness/bench`` commit; a behavior
  fingerprint of every query at that commit (computed by running this
  same tool in ``--dump`` mode inside a detached worktree) is cached
  in ``tools/evidence_fingerprints.json`` so history is read once.
* A query is STALE when its fingerprint at HEAD differs from its
  fingerprint at the round of its latest green/rows-only driver row —
  i.e. the implementation postdates the evidence.

The behavior fingerprint is a sha256 over the NORMALIZED source
(ast-unparsed, docstrings stripped — comment/format churn does not
flip it) of the query function plus the transitive closure of every
``ecowatt_etl_spark``-package function/class it references through
module globals, plus simple module-level constants it reads (ints,
strings, tuples — e.g. LSH_BUCKET_CAP) plus the registered DuckDB
oracle string. That catches rewrites of shared operators
(operators/dedup.py::lsh_bands) and oracle CTE changes
(_SQL_BANDS) that pure function-diff tooling misses. ``from pkg.mod
import name`` statements INSIDE a function body are followed too
(sources/formats.py lazily imports the Avro codec this way). Known
limit, accepted and documented: references through a bare module
object (``dedup.f``) are not followed — under-detects, never
over-detects.

CONVENTION (r10): because simple module constants participate in the
hash, RUNTIME-MUTABLE module state must live in dicts (never hashed),
never bare scalars — a memo flag that flips None→True at runtime made
q277's fingerprint depend on when it was computed.
tests/test_r10_invariants.py pins this both dynamically and by AST
sweep.

Usage:
  python tools/evidence_ledger.py            # staleness report + window
  python tools/evidence_ledger.py --window   # recommended _DRIVER_PRIORITY
  python tools/evidence_ledger.py --backfill # (re)compute missing rounds
  python tools/evidence_ledger.py --dump     # internal: fingerprint JSON
                                             # for the checkout on PYTHONPATH

``tests/test_r8_invariants.py`` asserts from the cached history + HEAD
fingerprints that the registry window leads with never-rowed then
stale queries — red if a rewrite ships without re-certification
priority, which is the automation the hand-comment could not give.
"""

from __future__ import annotations

import ast
import glob
import hashlib
import inspect
import json
import os
import re
import subprocess
import sys
import textwrap

_PKG = "ecowatt_etl_spark"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CACHE = os.path.join(_REPO, "tools", "evidence_fingerprints.json")
_SIMPLE = (bool, int, float, str, bytes)
# Bump whenever the fingerprint ALGORITHM changes: cached historical
# fingerprints are only comparable to HEAD ones computed the same way.
_FP_VERSION = 3


# ---------------------------------------------------------------------------
# fingerprinting (runs against whatever checkout is first on sys.path)
# ---------------------------------------------------------------------------


class _DocstringStripper(ast.NodeTransformer):
    def _strip(self, node):
        self.generic_visit(node)
        if (
            node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
            and isinstance(node.body[0].value.value, str)
        ):
            node.body = node.body[1:] or [ast.Pass()]
        return node

    visit_FunctionDef = _strip
    visit_AsyncFunctionDef = _strip
    visit_ClassDef = _strip
    visit_Module = _strip


def _norm_source(obj) -> str | None:
    try:
        src = textwrap.dedent(inspect.getsource(obj))
        tree = ast.parse(src)
    except (OSError, TypeError, SyntaxError):
        return None
    tree = _DocstringStripper().visit(tree)
    ast.fix_missing_locations(tree)
    return ast.unparse(tree)


def _code_names(code) -> set[str]:
    names = set(code.co_names)
    for const in code.co_consts:
        if inspect.iscode(const):
            names |= _code_names(const)
    return names


def _const_part(mod_name: str, name: str, val) -> str | None:
    def norm(v, depth=0):
        if isinstance(v, _SIMPLE) or v is None:
            return repr(v)
        if depth < 2 and isinstance(v, (tuple, list)):
            inner = [norm(x, depth + 1) for x in v]
            if all(x is not None for x in inner):
                return f"[{', '.join(inner)}]"
        if depth < 2 and isinstance(v, (frozenset, set)):
            # sets iterate in hash order — sort for a stable repr
            inner = sorted(norm(x, depth + 1) or "?" for x in v)
            if "?" not in inner:
                return f"{{{', '.join(inner)}}}"
        return None

    n = norm(val)
    return None if n is None else f"const {mod_name}.{name}={n}"


def _closure_parts(fn, parts: dict[str, str], seen: set[int]) -> None:
    """Collect normalized sources for fn and every package function /
    class / simple constant reachable through its globals. A wrapper
    made with ``functools.wraps`` (the registry's plan cache) stands
    for the function it wraps."""
    fn = inspect.unwrap(fn)
    if id(fn) in seen:
        return
    seen.add(id(fn))
    src = _norm_source(fn)
    key = f"{getattr(fn, '__module__', '?')}.{getattr(fn, '__qualname__', repr(fn))}"
    if src is not None:
        parts[f"src {key}"] = src
        _follow_lazy_imports(src, fn, parts, seen)
    code = getattr(fn, "__code__", None)
    if code is None:  # class: recurse into methods
        if inspect.isclass(fn):
            for m in vars(fn).values():
                if inspect.isfunction(m):
                    _closure_parts(m, parts, seen)
        return
    g = getattr(fn, "__globals__", {})
    mod_name = getattr(fn, "__module__", "?")
    for name in sorted(_code_names(code)):
        if name not in g:
            continue
        obj = g[name]
        if inspect.isfunction(obj) or inspect.isclass(obj):
            if getattr(obj, "__module__", "").startswith(_PKG):
                _closure_parts(obj, parts, seen)
        elif not inspect.ismodule(obj):
            part = _const_part(mod_name, name, obj)
            if part is not None:
                parts[f"const {mod_name}.{name}"] = part


def _follow_lazy_imports(src: str, fn, parts, seen) -> None:
    """Recurse into ``from ecowatt_etl_spark.x import y`` statements in
    the (normalized) function body — the lazy-import pattern a globals
    walk cannot see (e.g. sources/formats.py importing the Avro
    codec inside the function)."""
    import importlib

    try:
        tree = ast.parse(src)
    except SyntaxError:
        return
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level:
            continue
        if not (node.module or "").startswith(_PKG):
            continue
        try:
            mod = importlib.import_module(node.module)
        except ImportError:
            continue
        for alias in node.names:
            obj = getattr(mod, alias.name, None)
            if inspect.isfunction(obj) or inspect.isclass(obj):
                if getattr(obj, "__module__", "").startswith(_PKG):
                    _closure_parts(obj, parts, seen)
            elif obj is not None and not inspect.ismodule(obj):
                part = _const_part(node.module, alias.name, obj)
                if part is not None:
                    parts[f"const {node.module}.{alias.name}"] = part


def behavior_fingerprint(fn, oracle: str | None) -> str:
    parts: dict[str, str] = {}
    _closure_parts(fn, parts, set())
    h = hashlib.sha256()
    for key in sorted(parts):
        h.update(key.encode())
        h.update(b"\x00")
        h.update(parts[key].encode())
        h.update(b"\x00")
    h.update(b"oracle\x00")
    h.update((oracle or "<rows-only>").encode())
    return h.hexdigest()


def head_fingerprints() -> dict[str, str]:
    """Fingerprints of every registered query in the CURRENT import
    environment (HEAD working tree when run from the repo; an old
    checkout when run via --dump with PYTHONPATH set there)."""
    # APPEND the repo root so a --dump run's PYTHONPATH (the historic
    # worktree) still wins the import; direct runs from anywhere work.
    if _REPO not in sys.path:
        sys.path.append(_REPO)
    try:
        from ecowatt_etl_spark.queries.registry import all_queries

        return {
            name: behavior_fingerprint(spec.fn, spec.oracle)
            for name, spec in all_queries().items()
        }
    except ImportError:  # pre-registry rounds: the entry module IS the map
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        return {
            name: behavior_fingerprint(fn, oracles.get(name))
            for name, fn in entry.queries().items()
        }


# ---------------------------------------------------------------------------
# history: correctness rows + per-round fingerprints
# ---------------------------------------------------------------------------


def correctness_rows() -> dict[str, dict[int, str]]:
    """{query: {round: kind}} with kind in exact|rows_only|bad."""
    rows: dict[str, dict[int, str]] = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        for name, rec in json.load(open(path)).items():
            if rec.get("hash_match") is True:
                kind = "exact"
            elif rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None:
                kind = "rows_only"
            else:
                kind = "bad"
            rows.setdefault(name, {})[rnd] = kind
    return rows


def round_evidence_commits() -> dict[int, str]:
    """Round -> the commit the driver actually drove (parent of the
    'round N: verdict/...' artifact commit)."""
    out = subprocess.run(
        ["git", "log", "--format=%H %s"],
        cwd=_REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    commits: dict[int, str] = {}
    for line in out.splitlines():
        sha, _, subject = line.partition(" ")
        m = re.match(r"round (\d+): verdict", subject)
        if m:
            commits[int(m.group(1))] = sha + "^"
    return commits


def latest_anchored_round() -> int:
    """Highest round N with a ``round N: verdict`` commit in history.

    A driver drop (CORRECTNESS_rN.json) for a round NEWER than this is
    *pending*: its evidence commit does not exist yet, so its
    fingerprints cannot be snapshotted and its staleness is
    legitimately unknowable until the next verdict commit anchors it.
    Consumers (the ledger-UNKNOWN invariant test) must not go red for
    pending rounds — only for anchored rounds whose fingerprints are
    missing from the cache (r9 judge finding #1)."""
    return max(round_evidence_commits(), default=0)


def _dump_at(commit: str) -> dict[str, str]:
    """Fingerprint every query at a historic commit by running this
    tool in --dump mode inside a throwaway detached worktree."""
    wt = f"/tmp/evidence_ledger_wt_{os.getpid()}"
    subprocess.run(
        ["git", "worktree", "add", "--detach", "--force", wt, commit],
        cwd=_REPO,
        check=True,
        capture_output=True,
    )
    try:
        env = dict(os.environ, PYTHONPATH=wt)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--dump"],
            cwd=wt,
            env=env,
            capture_output=True,
            text=True,
            check=True,
        )
        return json.loads(proc.stdout.strip().splitlines()[-1])
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=_REPO,
            capture_output=True,
        )


def historical_fingerprints(backfill: bool = False) -> dict[str, dict[str, str]]:
    """{round(str): {query: fingerprint}} — cached in
    tools/evidence_fingerprints.json; --backfill computes any round
    present in CORRECTNESS_r*.json but absent from the cache."""
    blob: dict = {"_fp_version": _FP_VERSION, "rounds": {}}
    if os.path.exists(_CACHE):
        loaded = json.load(open(_CACHE))
        if loaded.get("_fp_version") == _FP_VERSION:
            blob = loaded
        elif not backfill:
            raise RuntimeError(
                f"{_CACHE} was written by fingerprint algorithm "
                f"v{loaded.get('_fp_version')}, current is v{_FP_VERSION}: "
                "re-run `python tools/evidence_ledger.py --backfill`"
            )
    cache = blob["rounds"]
    if backfill:
        needed = {r for per in correctness_rows().values() for r in per}
        commits = round_evidence_commits()
        for rnd in sorted(needed):
            if str(rnd) in cache:
                continue
            if rnd not in commits:
                print(f"round {rnd}: no 'round {rnd}: verdict' commit found",
                      file=sys.stderr)
                continue
            print(f"fingerprinting round {rnd} at {commits[rnd]} ...",
                  file=sys.stderr)
            cache[str(rnd)] = _dump_at(commits[rnd])
        with open(_CACHE, "w") as f:
            json.dump(blob, f, indent=1, sort_keys=True)
    return cache


# ---------------------------------------------------------------------------
# the ledger
# ---------------------------------------------------------------------------


def ledger(head: dict[str, str] | None = None) -> dict[str, dict]:
    """Per query: latest evidence round/kind and staleness vs HEAD.

    stale=True  -> implementation (or oracle) changed after the latest
                   driver row; needs a re-certification slot.
    stale=None  -> cannot tell (round missing from the fingerprint
                   cache); treated as stale by consumers.
    """
    head = head or head_fingerprints()
    rows = correctness_rows()
    hist = historical_fingerprints()
    out: dict[str, dict] = {}
    for name in head:
        per = rows.get(name, {})
        green = [r for r, k in per.items() if k in ("exact", "rows_only")]
        if not green:
            out[name] = {"latest_round": None, "kind": None, "stale": True}
            continue
        latest = max(green)
        kinds = per[latest]
        fp_then = hist.get(str(latest), {}).get(name)
        stale = None if fp_then is None else (fp_then != head[name])
        out[name] = {"latest_round": latest, "kind": kinds, "stale": stale}
    return out


def recommended_window(head: dict[str, str] | None = None) -> list[str]:
    """Full priority order; the first ~50 are what the driver
    value-checks:

    1. never-rowed (a new query must not sit unchecked for a round);
    2. stale queries REWRITTEN THIS ROUND (fingerprint differs from
       the latest cached round) — the standing same-round
       certification contract;
    3. remaining stale (unknown staleness counts as stale), oldest
       evidence first — the stalest-changed spill; if they exceed the
       window, the overflow carries to the next round's window, the
       r3–r6 rotation discipline;
    4. everything current, oldest evidence first.
    """
    head = head or head_fingerprints()
    led = ledger(head)
    hist = historical_fingerprints()
    last = str(max((int(r) for r in hist), default=0))
    at_last = hist.get(last, {})

    def changed_now(n: str) -> bool:
        return at_last.get(n) != head.get(n)

    never = sorted(n for n, r in led.items() if r["latest_round"] is None)
    stale = sorted(
        (n for n, r in led.items()
         if r["latest_round"] is not None and r["stale"] is not False),
        key=lambda n: (not changed_now(n), led[n]["latest_round"], n),
    )
    rest = sorted(
        (n for n, r in led.items()
         if r["latest_round"] is not None and r["stale"] is False),
        key=lambda n: (led[n]["latest_round"], n),
    )
    return never + stale + rest


def main(argv: list[str]) -> None:
    if "--dump" in argv:
        print(json.dumps(head_fingerprints(), sort_keys=True))
        return
    if "--backfill" in argv:
        historical_fingerprints(backfill=True)
        print(f"cache at {_CACHE}")
        return
    led = ledger()
    if "--window" in argv:
        for name in recommended_window():
            print(name)
        return
    never = [n for n, r in led.items() if r["latest_round"] is None]
    stale = [n for n, r in led.items()
             if r["latest_round"] is not None and r["stale"] is not False]
    print(f"queries: {len(led)}  never-rowed: {len(never)}  "
          f"stale-or-unknown: {len(stale)}")
    for n in sorted(never):
        print(f"  NEVER-ROWED  {n}")
    for n in sorted(stale):
        r = led[n]
        tag = "UNKNOWN" if r["stale"] is None else "STALE"
        print(f"  {tag:12} {n}  (latest row r{r['latest_round']} {r['kind']})")


if __name__ == "__main__":
    main(sys.argv[1:])
