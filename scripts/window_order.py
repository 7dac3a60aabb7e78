"""Ledger-driven driver-window ordering for __spark_entry__.queries().

The driver oracles the FIRST 50 entries of queries() each round, so
dict order decides which queries get fresh correctness rows. Round 5
proved hand-ordering a 166-key dict doesn't scale: events_zorder_layout
sat at index 50 — one past the window — and was never checked.

queries() therefore ranks itself, live, with compute_ranking: from the
correctness ledgers (CORRECTNESS_r*.json) plus the per-round code
identity dumps (scripts/hashes_rN.json — the hash of each query's
defining source at the end of round N):

  cat0  never checked by the driver           (alphabetical)
  cat1  latest driver row red                 (alphabetical)
  cat2  code changed since the last row       (oldest row first, name)
  cat3  green and unchanged — freshness only  (oldest row first, name)

"Code at row time" for a key is hashes_r{N}[key], N the round of its
latest driver row (the driver rows the window after the round ends,
against final HEAD). When round N has no dump, the newest earlier dump
stands in (with one warning per process naming the missing file): a
missing dump must not pin every key that round rowed to cat2, or the
window stops rotating. A key absent from the dump it reads ranks as
changed.

A query's code identity covers: the query function's source, its
oracle SQL STRING (generated oracles hash their output, so a generator
change counts), every nspc module its source references (local or
top-level imports — an operator fix flags every query on that
operator), and one level of entry-module helper functions it calls.

The one round-end step: ``python scripts/window_order.py --dump-hashes
> scripts/hashes_rN.json`` at the end of round N, committed — the code
identity the r{N} ledger rows are checked at.
"""

from __future__ import annotations

import glob
import hashlib
import importlib
import inspect
import json
import os
import re
import sys
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER_GLOB = os.path.join(REPO, "CORRECTNESS_r*.json")
HASHES_GLOB = os.path.join(REPO, "scripts", "hashes_r*.json")
WINDOW_SIZE = 50

# parenthesized import lists span lines — match to the closing paren,
# not the first newline (a non-greedy \s-class stopped at line one and
# silently dropped every name after it from the hash closure)
_FROM_IMPORT_RE = re.compile(
    r"from\s+(nspc_etl_basic_spark(?:\.\w+)*)\s+import\s+"
    r"(\([^)]*\)|[^\n]+)",
)


def _import_pairs(raw: str) -> list[tuple[str, str]]:
    """[(original, local alias)] from an import list body."""
    out = []
    for p in raw.strip().strip("()").replace("\n", " ").split(","):
        p = p.strip()
        if not p:
            continue
        bits = p.split(" as ")
        out.append((bits[0].strip(), bits[-1].strip()))
    return out


def _toplevel_name_map(entry_src: str) -> dict[str, tuple[str, str]]:
    """local name -> (module, original attr) for the entry file's
    top-level nspc imports (the original matters: `import a as b` must
    seed the closure with `a`, the attr name in the origin module)."""
    out: dict[str, tuple[str, str]] = {}
    for m in _FROM_IMPORT_RE.finditer(entry_src):
        for orig, alias in _import_pairs(m.group(2)):
            out[alias] = (m.group(1), orig)
    return out


def _canon(v) -> str:
    """Deterministic serialization — repr() of sets (and dict views) is
    hash-ordered, which varies across processes under hash
    randomization and would make the code-identity hash unstable."""
    if isinstance(v, dict):
        items = sorted(v.items(), key=lambda kv: repr(kv[0]))
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in items) + "}"
    if isinstance(v, (set, frozenset)):
        return "{" + ",".join(sorted(_canon(x) for x in v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if callable(v):
        # repr(fn) embeds the process-random memory address; render the
        # stable identity instead. The function's SOURCE is deliberately
        # not pulled in here — a registry dict mapping names to query
        # functions (the round-8 _QUERY_REGISTRY) must not glue every
        # query's hash to every other query's source.
        return f"<callable {getattr(v, '__module__', '?')}." \
               f"{getattr(v, '__qualname__', repr(type(v)))}>"
    return repr(v)


# entry-module registry plumbing exempt from hashing, BY NAME: the
# query registry dict and the contract functions around it. None is
# part of any query's semantics (each query's own source and oracle
# are hashed directly), and following them would re-couple every query
# whose source merely says "queries" or "entry" to every registration
# and to the ranking code (round 8; without the function names, a
# one-line edit to queries() re-flags 13 queries). Any OTHER dispatch
# dict a query closes over IS semantic — its membership is hashed via
# its key set.
_REGISTRY_EXEMPT = {
    "_QUERY_REGISTRY", "queries", "_ledger_ordered", "oracle_sql", "entry",
}


def _attr_source(obj) -> str | None:
    if inspect.isfunction(obj) or inspect.isclass(obj):
        try:
            return inspect.getsource(obj)
        except (OSError, TypeError):
            return None
    if isinstance(obj, dict) and obj and all(
        callable(x) for x in obj.values()
    ):
        # a genuine dispatch table: hash the sorted key set so
        # membership changes invalidate dependent queries' identity
        # (values are callables whose sources are followed by the
        # closure walk when referenced by name)
        return "<dispatch " + ",".join(sorted(map(repr, obj))) + ">"
    if isinstance(obj, (str, int, float, bool, list, tuple, dict, set)):
        return _canon(obj)
    return None


_WORD_RE = re.compile(r"\w+")
_MODULE_INDEX: dict[str, tuple[dict, dict, dict]] = {}
_PKG = "nspc_etl_basic_spark"


def _module_index(module) -> tuple[dict, dict, dict]:
    """Per module, computed once: {attr: source} and {attr: word-token
    set} for its OWN functions/classes and literal constants, plus
    {imported name: (origin module, origin attr)} for nspc
    functions/classes it imports (and {alias: module} for nspc module
    aliases) — so the closure can follow a facade's call into the
    operator module that actually implements it."""
    if module.__name__ not in _MODULE_INDEX:
        attrs: dict[str, str] = {}
        imports: dict[str, tuple] = {}
        for name, obj in vars(module).items():
            if name.startswith("__") or name in _REGISTRY_EXEMPT:
                continue
            if inspect.ismodule(obj):
                if obj.__name__.startswith(_PKG):
                    imports[name] = (obj, None)  # module alias
                continue
            origin = getattr(obj, "__module__", None)
            if (inspect.isfunction(obj) or inspect.isclass(obj)) and isinstance(
                origin, str
            ):
                if origin == module.__name__:
                    src = _attr_source(obj)
                    if src is not None:
                        attrs[name] = src
                elif origin.startswith(_PKG) and origin in sys.modules:
                    imports[name] = (
                        sys.modules[origin],
                        getattr(obj, "__name__", name),
                    )
            elif (s := _attr_source(obj)) is not None:
                attrs[name] = s
        tokens = {
            name: frozenset(_WORD_RE.findall(src))
            for name, src in attrs.items()
        }
        _MODULE_INDEX[module.__name__] = (attrs, tokens, imports)
    return _MODULE_INDEX[module.__name__]


def _closure_sources(module, seed_names: list[str]) -> list[str]:
    """Sources of the named module attributes plus — transitively —
    every attr their sources mention, FOLLOWED ACROSS MODULES: a
    facade function's hash must cover the operator functions it calls
    in other nspc modules (streaming/mv.py -> operators/merge.py), or
    an operator edit behind the facade never flags the query. Still
    function-level within each module: an unrelated function added to
    a shared module does not flag every query importing from it."""
    out: list[str] = []
    seen: set[tuple[str, str]] = set()
    work: list[tuple] = [(module, n) for n in seed_names]
    while work:
        mod, name = work.pop()
        key = (mod.__name__, name)
        if key in seen:
            continue
        seen.add(key)
        attrs, tokens, imports = _module_index(mod)
        if name in attrs:
            out.append(attrs[name])
            toks = tokens[name]
        elif name in imports:
            origin, oname = imports[name]
            if oname is None:  # module alias: hash the whole module
                try:
                    out.append(inspect.getsource(origin))
                except OSError:
                    out.append(origin.__name__)
                continue
            work.append((origin, oname))
            continue
        else:
            # `name` may be a SUBMODULE of `mod` that no import in this
            # process has bound as a package attribute yet (a query's
            # `from pkg import writer as _w` binds it lazily at call
            # time). vars(mod) misses it in a bare process but finds it
            # after a long test session has imported everything — the
            # hash then depends on IMPORT STATE (round 8: the full
            # pytest run flagged stream_mv/novelty_replay as changed
            # while a bare script run did not). Import explicitly so the
            # closure is the same in every process.
            if mod.__name__.startswith(_PKG):
                try:
                    sub = importlib.import_module(f"{mod.__name__}.{name}")
                except Exception:
                    continue
                try:
                    out.append(inspect.getsource(sub))
                except OSError:
                    out.append(sub.__name__)
            continue
        for other in attrs:
            if other != name and other in toks:
                work.append((mod, other))
        for iname in imports:
            if iname in toks:
                work.append((mod, iname))
    out = sorted(set(out))
    return out


def current_hashes(entry) -> dict[str, str]:
    entry_src = inspect.getsource(entry)
    name_map = _toplevel_name_map(entry_src)
    oracles = entry.oracle_sql()

    def module_of(mod_name: str):
        try:
            return importlib.import_module(mod_name)
        except Exception:
            return None

    out: dict[str, str] = {}
    # the registry, not queries(): queries() ranks itself with this
    for key, fn in entry._QUERY_REGISTRY.items():
        src = inspect.getsource(fn)
        src_tokens = frozenset(_WORD_RE.findall(src))
        parts = [src, oracles.get(key, "")]
        # names imported inside the query fn, per module (seed by the
        # ORIGINAL attr name — aliases don't exist in the origin module)
        wanted: dict[str, set[str]] = {}
        for m in _FROM_IMPORT_RE.finditer(src):
            wanted.setdefault(m.group(1), set()).update(
                orig for orig, _alias in _import_pairs(m.group(2))
            )
        # entry-top-level imported names the fn source mentions
        for name, (mod, orig) in name_map.items():
            if name in src_tokens:
                wanted.setdefault(mod, set()).add(orig)
        for mod_name in sorted(wanted):
            mod = module_of(mod_name)
            if mod is None:
                parts.append(mod_name)
            else:
                parts.extend(
                    _closure_sources(mod, sorted(wanted[mod_name]))
                )
        # entry-local helpers the fn calls (replay/slicing/SQL builders)
        helper_names = [
            name
            for name, obj in vars(entry).items()
            if inspect.isfunction(obj)
            and obj.__module__ == entry.__name__
            and obj is not fn
            and name in src_tokens
        ]
        parts.extend(_closure_sources(entry, helper_names))
        out[key] = hashlib.md5("\x00".join(parts).encode()).hexdigest()
    return out


def ledger_state() -> dict[str, tuple[int, bool]]:
    """key -> (last round checked, latest row green)."""
    state: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(LEDGER_GLOB)):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for key, row in rows.items():
            green = bool(
                row.get("rows_match")
                and row.get("schema_match", True)
                and (row.get("hash_match") is not False)
                and not row.get("err")
            )
            prev = state.get(key)
            if prev is None or rnd >= prev[0]:
                state[key] = (rnd, green)
    return state


def row_time_hashes(state: dict[str, tuple[int, bool]]) -> dict[str, str]:
    """key -> its code hash at its latest driver row, read from the
    round-end dumps: hashes_r{N}[key], N = the key's last rowed round,
    or the newest dump before N when round N has none. A key absent
    from that dump is absent here (ranks as changed)."""
    dumps: dict[int, dict[str, str]] = {}
    for path in glob.glob(HASHES_GLOB):
        m = re.search(r"hashes_r(\d+)\.json$", path)
        if m:
            with open(path) as fh:
                dumps[int(m.group(1))] = json.load(fh)
    source: dict[int, dict[str, str]] = {}
    for rnd in sorted({rnd for rnd, _green in state.values()}):
        earlier = [r for r in dumps if r <= rnd]
        if not earlier:
            continue
        source[rnd] = dumps[max(earlier)]
        if rnd not in dumps:
            # the default warnings filter shows each distinct message
            # once per process
            missing = os.path.join(
                os.path.dirname(HASHES_GLOB), f"hashes_r{rnd}.json"
            )
            warnings.warn(
                f"{missing} is missing; rows of round {rnd} are compared "
                f"with hashes_r{max(earlier)}.json"
            )
    return {
        key: source[rnd][key]
        for key, (rnd, _green) in state.items()
        if key in source.get(rnd, {})
    }


def compute_ranking(entry) -> tuple[list[str], dict[str, str]]:
    """Full ranked key list + {key: category} for reporting.
    Categories: 0 never-checked, 1 latest row red, 2 code changed since
    row, 3 green+unchanged (oldest row first)."""
    cur = current_hashes(entry)
    state = ledger_state()
    at_row = row_time_hashes(state)

    cats: dict[str, tuple] = {}
    for key in cur:
        if key not in state:
            cats[key] = (0, key)
        elif not state[key][1]:
            cats[key] = (1, key)
        elif at_row.get(key) != cur[key]:
            cats[key] = (2, state[key][0], key)
        else:
            cats[key] = (3, state[key][0], key)
    ranked = sorted(cur, key=lambda k: cats[k])
    return ranked, {k: f"cat{cats[k][0]}" for k in cur}


if __name__ == "__main__":
    if sys.argv[1:] != ["--dump-hashes"]:
        sys.exit(
            "usage: python scripts/window_order.py --dump-hashes"
            " > scripts/hashes_rN.json"
        )
    # run from any checkout (e.g. a round-N worktree): hash ITS entry +
    # package, not the repo this script lives in
    sys.path.insert(0, os.getcwd())
    import __spark_entry__ as entry

    print(json.dumps(current_hashes(entry), indent=1))
