"""Property-based tests (hypothesis) for the pure-python core:
normalization invariants, hashing algebra, oracle-vs-DSU consistency."""

from pathlib import Path

import numpy as np
from hypothesis import given, settings, strategies as st

from webcrawler_spark.functions.textnorm import (
    GO_SPACE_CHARS,
    go_fields,
    go_trim_space,
    normalize_text,
    tokenize,
)
from webcrawler_spark.operators import hashing as H

# text strategy: words + go-whitespace + exotic chars + the \x1c-\x1f trap
_chars = st.characters(
    blacklist_categories=("Cs",),  # no lone surrogates
)
_texts = st.text(_chars, max_size=400)


@settings(max_examples=300, deadline=None)
@given(_texts)
def test_normalize_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once


@settings(max_examples=300, deadline=None)
@given(_texts)
def test_normalize_output_shape(s):
    out = normalize_text(s)
    # no leading/trailing go-space; no doubled separators
    assert out == go_trim_space(out)
    assert "  " not in out
    # every output field is a non-space token
    for f in out.split(" "):
        if f:
            assert not any(c in GO_SPACE_CHARS for c in f)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(st.characters(blacklist_categories=("Cs", "Zs", "Zl", "Zp"), blacklist_characters="\t\n\x0b\x0c\r \x85\xa0"), min_size=1, max_size=12), max_size=50))
def test_fields_roundtrip(tokens):
    # joining non-space tokens with single spaces and splitting returns them
    s = " ".join(tokens)
    assert go_fields(s) == [t for t in tokens if t]
    if all(tokens):
        assert tokenize(normalize_text(s)) == tokens


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 2**63 - 1), min_size=0, max_size=500, unique=True))
def test_minhash_set_invariance(vals):
    seeds = H.perm_seeds(32, 42)
    arr = np.array(sorted(vals), dtype=np.uint64)
    shuffled = np.array(vals[::-1], dtype=np.uint64)
    s1 = H.minhash_signature(arr, seeds)
    s2 = H.minhash_signature(shuffled, seeds)
    assert (s1 == s2).all()  # order-insensitive (it's a set sketch)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(0, 2**63 - 1), min_size=8, max_size=300, unique=True),
    st.integers(0, 63),
)
def test_simhash_single_feature_bounded_shift(vals, _bit):
    a = np.array(vals, dtype=np.uint64)
    b = a[:-1]  # remove one feature
    # removing one of m features flips at most all bits where the margin was
    # exactly that feature's contribution — hamming shift is bounded by 64
    # and should be small for larger sets
    d = bin((H.simhash64(a) ^ H.simhash64(b)) & (2**64 - 1)).count("1")
    assert 0 <= d <= 64
    if len(a) >= 200:
        assert d <= 24


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        max_size=120,
    )
)
def test_oracle_dsu_components_consistent(edges):
    """DisjointSet: cluster ids are the component minimum, always."""
    from webcrawler_spark.operators.oracle import DisjointSet

    dsu = DisjointSet()
    nodes = set()
    for a, b in edges:
        nodes |= {a, b}
        dsu.union(a, b)
    # adjacency ground truth via BFS
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    seen = {}
    for start in sorted(nodes):
        if start in seen:
            continue
        comp = []
        dq = collections.deque([start])
        while dq:
            x = dq.popleft()
            if x in seen:
                continue
            seen[x] = True
            comp.append(x)
            dq.extend(adj[x] - seen.keys())
        m = min(comp)
        for x in comp:
            assert dsu.find(x) == m


_ids = st.integers(0, 2**62)
_edge_lists = st.one_of(
    st.lists(st.tuples(st.integers(0, 60), st.integers(0, 60)), max_size=120),
    # chains: consecutive ids of a list of distinct ids
    st.lists(_ids, min_size=2, max_size=80, unique=True).map(
        lambda ids: list(zip(ids, ids[1:]))
    ),
    # stars without self-loops: one centre, distinct leaves
    st.tuples(_ids, st.lists(_ids, min_size=1, max_size=80, unique=True)).map(
        lambda cl: [(cl[0], x) for x in cl[1] if x != cl[0]]
    ),
)


@settings(max_examples=150, deadline=None)
@given(_edge_lists)
def test_local_union_find_kernel_matches_dsu(edges):
    """components._min_label_components (the numpy kernel of union-find's
    local phase) maps every node to the same component min as DisjointSet."""
    from webcrawler_spark.operators.components import _min_label_components
    from webcrawler_spark.operators.oracle import DisjointSet

    dsu = DisjointSet()
    for a, b in edges:
        dsu.union(a, b)
    u = np.array([a for a, _ in edges], dtype=np.int64)
    v = np.array([b for _, b in edges], dtype=np.int64)
    nodes, roots = _min_label_components(u, v)
    got = dict(zip(nodes.tolist(), roots.tolist()))
    assert got == {x: dsu.find(x) for x in dsu.parent}


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_shingle_containment_property(data):
    """A contiguous token slice's shingles are a subset of the source's."""
    n = data.draw(st.integers(10, 80))
    toks = [f"w{data.draw(st.integers(0, 30))}" for _ in range(n)]
    i = data.draw(st.integers(0, n - 6))
    j = data.draw(st.integers(i + 6, n))
    cache = {}
    big = H.shingle_hashes(H.token_hashes(toks, cache), 5)
    small = H.shingle_hashes(H.token_hashes(toks[i:j], cache), 5)
    assert set(small.tolist()) <= set(big.tolist())


def test_entry_docstring_count_matches_registry():
    """The driver-facing contract docstring's "ALL <n> entries" count must
    track the registry — it went stale twice (36 at 39 entries; earlier 30
    at 36). Self-derives: any registry growth without a docstring bump
    fails here instead of shipping."""
    import re
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as e

    m = re.search(r"ALL (\d+) entries", e.__doc__)
    assert m, "entry docstring must state the checked-entry count"
    assert int(m.group(1)) == len(e.queries()) == len(e.oracle_sql())


# Library definitions that only tests may reach, with the reason each stays.
_TEST_ONLY_ALLOWED = {
    "true_pairs_bruteforce": "oracle.py: the brute-force reference tests compare against",
    "iceberg_catalog_conf": "session.py: Iceberg deployment path; needs the Iceberg jar",
    "iceberg_available": "session.py: Iceberg deployment path; needs the Iceberg jar",
}


def _docstring_nodes(tree) -> set[int]:
    import ast

    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                out.add(id(first.value))
    return out


def _non_test_sources(root):
    """The files whose calls count as production callers: the library,
    tools/, perfbench/, bench.py and __spark_entry__.py."""
    return (
        sorted((root / "webcrawler_spark").rglob("*.py"))
        + sorted((root / "tools").rglob("*.py"))
        + sorted((root / "perfbench").rglob("*.py"))
        + [root / "bench.py", root / "__spark_entry__.py"]
    )


def test_every_library_definition_has_a_non_test_caller():
    """Every top-level def/class under webcrawler_spark/ is named (as a
    Name, an Attribute, an import alias or an identifier string, not in a
    docstring) somewhere in the library, tools/, perfbench/, bench.py or
    __spark_entry__.py. Library code that only tests reach is deleted
    instead; _TEST_ONLY_ALLOWED lists the exceptions."""
    import ast

    root = Path(__file__).resolve().parent.parent
    lib = sorted((root / "webcrawler_spark").rglob("*.py"))
    used: set[str] = set()
    for path in _non_test_sources(root):
        tree = ast.parse(path.read_text())
        docs = _docstring_nodes(tree)
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.alias):
                used.add(n.name.rsplit(".", 1)[-1])
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and n.value.isidentifier()
                and id(n) not in docs
            ):
                used.add(n.value)
    defs = [
        (path, node.name)
        for path in lib
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]
    assert set(_TEST_ONLY_ALLOWED) <= {name for _, name in defs}
    orphans = sorted(
        f"{path.relative_to(root)}:{name}"
        for path, name in defs
        if name not in used and name not in _TEST_ONLY_ALLOWED
    )
    assert not orphans, "library definitions with no non-test caller:\n" + "\n".join(
        orphans
    )


def test_every_config_field_is_read():
    """Every DedupConfig field is read as an attribute of a config object
    (a name containing "cfg" or "config", e.g. ``cfg.seed``,
    ``DEFAULT_CONFIG.verify_mode``) somewhere in the library, tools/,
    perfbench/ or bench.py. A field nothing reads is deleted, and a value
    that never varies becomes a module constant where it is used."""
    import ast
    import dataclasses
    from pathlib import Path

    from webcrawler_spark.config import DedupConfig

    root = Path(__file__).resolve().parent.parent
    sources = (
        sorted((root / "webcrawler_spark").rglob("*.py"))
        + sorted((root / "tools").rglob("*.py"))
        + sorted((root / "perfbench").rglob("*.py"))
        + [root / "bench.py"]
    )
    read: set[str] = set()
    for path in sources:
        for n in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(n, ast.Attribute)
                and isinstance(n.ctx, ast.Load)
                and isinstance(n.value, ast.Name)
                and ("cfg" in n.value.id.lower() or "config" in n.value.id.lower())
            ):
                read.add(n.attr)
    unread = sorted(
        f.name for f in dataclasses.fields(DedupConfig) if f.name not in read
    )
    assert not unread, f"DedupConfig fields no caller reads: {unread}"



# Defaulted parameters no non-test call passes, with the reason each stays.
_UNSET_DEFAULT_ALLOWED = {
    "operators/oracle.py:run_oracle(cfg)": "the reference mirrors the engine's signature",
    "operators/oracle.py:true_pairs_bruteforce(cfg)": "the reference mirrors the engine's signature",
}


def _defaulted_parameters(tree):
    """(qualname, callee name, parameter, positional index or None, is a
    mutable record field) for every defaulted parameter of a function,
    method or dataclass constructor. Methods are called through an
    attribute, so ``self``/``cls`` takes no positional slot; ``__init__``
    and dataclass fields are set by calling the class. DedupConfig's fields
    are left to test_every_config_field_is_read: the config is the engine's
    one set of thresholds, and a field must be read to earn its place."""
    import ast

    out = []

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                dc = [
                    d for d in child.decorator_list
                    if getattr(getattr(d, "func", d), "id", None) == "dataclass"
                ]
                if dc and child.name != "DedupConfig":
                    frozen = any(
                        k.arg == "frozen" and getattr(k.value, "value", False)
                        for d in dc
                        for k in getattr(d, "keywords", ())
                    )
                    fields = [s for s in child.body if isinstance(s, ast.AnnAssign)]
                    out.extend(
                        (child.name, child.name, f.target.id, i, not frozen)
                        for i, f in enumerate(fields)
                        if f.value is not None
                    )
                visit(child, child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                pos = a.posonlyargs + a.args
                if owner and pos and pos[0].arg in ("self", "cls"):
                    pos = pos[1:]
                callee = owner if child.name == "__init__" else child.name
                qual = f"{owner}.{child.name}" if owner else child.name
                first = len(pos) - len(a.defaults)
                out.extend(
                    (qual, callee, p.arg, i, False) for i, p in enumerate(pos) if i >= first
                )
                out.extend(
                    (qual, callee, p.arg, None, False)
                    for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                )
                visit(child, None)
            else:
                visit(child, owner)

    visit(tree, None)
    return out


def test_every_optional_parameter_is_passed():
    """Every defaulted parameter of a function, method or dataclass
    constructor under webcrawler_spark/ is passed, positionally or by
    keyword, by at least one call (matched by callee name) in the library,
    tools/, perfbench/, bench.py or __spark_entry__.py. A call with ``*args``
    passes every positional slot, one with ``**kwargs`` every keyword. A
    mutable dataclass is a record filled in place after construction
    (``PageData()``, ``OracleResult()``), so its fields count as set when a
    caller names them as an attribute. A call inside a function of the callee's own name (a
    method forwarding its argument, e.g. to the RDD it wraps) does not
    count. A parameter only tests set is a knob no production caller turns:
    its one value in use becomes a constant. _UNSET_DEFAULT_ALLOWED lists
    the exceptions."""
    import ast
    import math

    root = Path(__file__).resolve().parent.parent
    max_pos: dict[str, float] = {}
    keywords: dict[str, set] = {}
    named: set[str] = set()

    def scan(node, enclosing):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scan(child, enclosing | {child.name})
                continue
            if isinstance(child, ast.Attribute):
                named.add(child.attr)
            if isinstance(child, ast.Call):
                name = getattr(child.func, "id", getattr(child.func, "attr", None))
                if name is not None and name not in enclosing:
                    starred = any(isinstance(x, ast.Starred) for x in child.args)
                    max_pos[name] = max(
                        max_pos.get(name, 0), math.inf if starred else len(child.args)
                    )
                    keywords.setdefault(name, set()).update(
                        k.arg if k.arg is not None else "**" for k in child.keywords
                    )
            scan(child, enclosing)

    for path in _non_test_sources(root):
        scan(ast.parse(path.read_text()), frozenset())
    lib = root / "webcrawler_spark"
    assert {k.split(":")[0] for k in _UNSET_DEFAULT_ALLOWED} <= {
        p.relative_to(lib).as_posix() for p in lib.rglob("*.py")
    }
    unset = []
    for path in sorted(lib.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for qual, callee, param, idx, record in _defaulted_parameters(tree):
            kw = keywords.get(callee, set())
            passed = (
                param in kw
                or "**" in kw
                or (idx is not None and max_pos.get(callee, 0) > idx)
                or (record and param in named)
            )
            label = f"{path.relative_to(lib).as_posix()}:{qual}({param})"
            if not passed and label not in _UNSET_DEFAULT_ALLOWED:
                unset.append(label)
    assert not unset, (
        "defaulted parameters no non-test call passes:\n" + "\n".join(unset)
    )
