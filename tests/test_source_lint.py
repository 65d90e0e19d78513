"""Source lint — the complement of test_plan_lint.py for patterns that
are visible in the code before any plan exists.

A driver-side vector, matrix or bound table must enter a plan through
``functions.vector.array_lit`` (one folded literal node, O(1) py4j
calls), never through a per-element ``F.array(*[F.lit(x) ...])`` list:
that form costs one py4j round trip per element (1.7-2.5 s for a
32×128 centroid matrix) and an O(k·D)-node tree to analyze.

A driver-held table must enter a plan through
``sources.tables.local_frame`` (an Arrow ``LocalRelation``), never
through ``createDataFrame(<list>)``: that form plans as
``Scan ExistingRDD`` and forks Python-worker tasks each time the frame
is evaluated. ``local_frame`` holds the package's only call.

Every query wrapper (``q_*``) and oracle constant (``ORACLE_*``) defined
at the top level of a ``queries*.py`` module must be a registry value
(``QUERIES`` / ``ORACLES``): an unregistered wrapper is code no registry
entry reaches.

The IVF layout's driver writer (``operators/ann.py::_write_list_files``,
behind the driver paths of the build, the write and the append) holds
the package's only direct pyarrow parquet write: every other write goes
through Spark's writer, whose commit protocol and schema footer the
layout's readers rely on. Likewise ``sources/tables.py::collect_arrow``
holds the package's only pyarrow parquet read (``pq.read_table``,
``pq.ParquetFile``, ``pyarrow.dataset``): it reads a file only after
checking that Spark would read the same rows and types from it. The
driver paths' collects in ``operators/knn.py``, ``operators/ann.py``
and ``plans/index_build.py`` go through it, never a bare ``toArrow()``.

``operators/knn.py`` keeps one skeleton for its kNN kernels: one
function calls ``row_number`` (the rank step every kernel ends in), and
the SWAR popcount and the bit-exact left fold are each written once, so
a change to the rank, the Hamming distance or the exact distance is
made in one place.

Every public top-level function or class of the package is reached:
some AST node of the package, ``bench.py``, ``__spark_entry__.py``,
``scripts/`` or ``perfbench/`` names it. A definition only its own tests
call is code the behavioural contract does not reach; the few kept on
purpose are listed, each with its reason, in ``_UNREACHED_KEPT``.
"""

from __future__ import annotations

import ast
import importlib
import pathlib
import re

_ROOT = pathlib.Path(__file__).resolve().parent.parent
_PKG = _ROOT / "the_build_project_image_retrieval_with_vector_databases_spark"

# F.array(*[F.lit( … with any whitespace / line breaks between tokens
_PER_ELEMENT_LIT = re.compile(r"F\.array\(\s*\*\s*\[\s*F\.lit\(")


def _hit_lines(text: str) -> list[int]:
    return [
        text.count("\n", 0, m.start()) + 1
        for m in _PER_ELEMENT_LIT.finditer(text)
    ]


def test_no_per_element_array_literals_in_package_or_scripts():
    paths = sorted(_PKG.rglob("*.py")) + sorted((_ROOT / "scripts").glob("*.py"))
    assert paths, "package sources not found"
    hits = [
        f"{path.relative_to(_ROOT)}:{line}"
        for path in paths
        for line in _hit_lines(path.read_text(encoding="utf-8"))
    ]
    assert not hits, (
        "per-element array literal; use functions.vector.array_lit: "
        + ", ".join(hits)
    )


def test_lint_pattern_catches_wrapped_and_nested_forms():
    """Negative control: the pattern matches the flat, line-wrapped and
    nested-matrix spellings it exists for, and not array_lit itself."""
    planted = (
        "a = F.array(*[F.lit(float(x)) for x in q])\n"
        "b = F.array(\n    *[F.lit(int(v)) for v in c]\n)\n"
        "c = F.array(*[F.array(*[F.lit(x) for x in r]) for r in m])\n"
        "d = array_lit(q)\n"
    )
    assert _hit_lines(planted) == [1, 2, 5]


def _create_dataframe_calls(source: str) -> list[int]:
    """Lines of ``createDataFrame(`` calls outside ``def local_frame``
    (comments and docstrings do not count)."""
    tree = ast.parse(source)
    allowed = {
        line
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame"
        for line in range(node.lineno, node.end_lineno + 1)
    }
    return sorted(
        node.func.end_lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", getattr(node.func, "id", None))
        == "createDataFrame"
        and node.func.end_lineno not in allowed
    )


def test_no_create_dataframe_outside_local_frame():
    paths = sorted(_PKG.rglob("*.py"))
    assert paths, "package sources not found"
    hits = [
        f"{path.relative_to(_ROOT)}:{line}"
        for path in paths
        for line in _create_dataframe_calls(path.read_text(encoding="utf-8"))
    ]
    assert not hits, (
        "createDataFrame outside sources.tables.local_frame: " + ", ".join(hits)
    )


def test_create_dataframe_lint_catches_planted_calls():
    """Negative control: direct, wrapped and bare calls are reported;
    the helper's own call, a comment and a docstring are not."""
    planted = (
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(rows, schema=schema)\n"
        "def offsets(spark, rows):\n"
        '    """not spark.createDataFrame(rows)"""\n'
        "    # spark.createDataFrame(rows)\n"
        "    a = spark.createDataFrame(rows, 'x int')\n"
        "    b = (\n        spark\n        .createDataFrame(\n            rows)\n    )\n"
        "    return createDataFrame(rows)\n"
    )
    assert _create_dataframe_calls(planted) == [6, 9, 12]


def _unregistered(
    source: str, namespace: dict, queries: dict, oracles: dict
) -> list[str]:
    """Top-level ``q_*`` functions / ``ORACLE_*`` constants in ``source``
    whose objects (looked up in ``namespace``) are not registry values."""
    q_vals = list(queries.values())
    o_vals = list(oracles.values())
    out = []
    for node in ast.parse(source).body:
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
            names, registered = [node.name], q_vals
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            if isinstance(node, ast.Assign):
                targets = node.targets
            else:
                targets = [node.target]
            names = [
                t.id for t in targets
                if isinstance(t, ast.Name) and t.id.startswith("ORACLE_")
            ]
            registered = o_vals
        else:
            continue
        for name in names:
            if not any(namespace[name] is v for v in registered):
                out.append(name)
    return out


def test_every_query_wrapper_and_oracle_is_registered():
    from the_build_project_image_retrieval_with_vector_databases_spark.queries import (
        ORACLES,
        QUERIES,
    )

    paths = sorted(_PKG.glob("queries*.py"))
    assert len(paths) >= 2, "query modules not found"
    hits = []
    for path in paths:
        mod = importlib.import_module(f"{_PKG.name}.{path.stem}")
        hits += [
            f"{path.name}:{name}"
            for name in _unregistered(
                path.read_text(encoding="utf-8"), vars(mod), QUERIES, ORACLES
            )
        ]
    assert not hits, "defined but not in QUERIES/ORACLES: " + ", ".join(hits)


def test_registry_lint_catches_unregistered_wrapper_and_oracle():
    """Negative control: a planted wrapper and oracle that no registry
    entry holds are reported; registered ones and other names are not."""
    planted = (
        "def q_kept(spark, sf_dir):\n    return None\n"
        "def q_orphan(spark, sf_dir):\n    return None\n"
        "ORACLE_KEPT = 'SELECT 1'\n"
        "ORACLE_ORPHAN: str = 'SELECT 2'\n"
        "def helper():\n    return None\n"
    )
    ns: dict = {}
    exec(compile(planted, "<planted>", "exec"), ns)
    queries = {"kept": ns["q_kept"]}
    oracles = {"kept": ns["ORACLE_KEPT"]}
    assert _unregistered(planted, ns, queries, oracles) == [
        "q_orphan",
        "ORACLE_ORPHAN",
    ]
    queries["orphan"] = ns["q_orphan"]
    oracles["orphan"] = ns["ORACLE_ORPHAN"]
    assert _unregistered(planted, ns, queries, oracles) == []


# first SWAR popcount mask; the left-fold step is ``acc = acc + d * d``
_SWAR_MASK = 0x5555555555555555


def _knn_skeleton_copies(source: str) -> dict[str, list[str]]:
    """Top-level functions of ``source`` that call ``row_number``, and
    the functions holding a SWAR popcount or a left-fold step."""
    found: dict[str, list[str]] = {"row_number": [], "popcount": [], "left_fold": []}
    for fn in ast.parse(source).body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", getattr(node.func, "id", None))
                == "row_number"
            ):
                found["row_number"].append(fn.name)
            elif isinstance(node, ast.Constant) and node.value == _SWAR_MASK:
                found["popcount"].append(fn.name)
            elif (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and isinstance(node.value, ast.BinOp)
                and isinstance(node.value.op, ast.Add)
                and isinstance(node.value.left, ast.Name)
                and node.value.left.id == node.targets[0].id
                and isinstance(node.value.right, ast.BinOp)
                and isinstance(node.value.right.op, ast.Mult)
                and ast.dump(node.value.right.left) == ast.dump(node.value.right.right)
            ):
                found["left_fold"].append(fn.name)
    found["row_number"] = sorted(set(found["row_number"]))
    return found


def test_knn_kernels_share_one_rank_step_popcount_and_left_fold():
    """``operators/ann.py`` is read too: ``ivf_search_batch``, the
    default ``search_batch(index="ivf")`` path, ranks with ``_rank``."""
    found: dict[str, list[str]] = {}
    for name in ("knn.py", "ann.py"):
        source = (_PKG / "operators" / name).read_text(encoding="utf-8")
        for kind, fns in _knn_skeleton_copies(source).items():
            found.setdefault(kind, []).extend(f"{name}::{fn}" for fn in fns)
    assert {k: len(v) for k, v in found.items()} == {
        "row_number": 1,
        "popcount": 1,
        "left_fold": 1,
    }, found


def test_knn_skeleton_lint_catches_planted_copies():
    """Negative control: a second rank window, popcount or left fold is
    reported, nested closures and comments included; one of each is not."""
    one = (
        "def _rank(cand, w):\n"
        "    return cand.withColumn('rank', F.row_number().over(w))\n"
        "def _popcount(x):\n"
        "    return x - ((x >> 1) & 0x5555555555555555)\n"
        "def _left_fold(x, q):\n"
        "    for j in range(q.shape[1]):\n"
        "        dj = x[:, j] - q[j]\n"
        "        acc = acc + dj * dj\n"
        "    return acc\n"
    )
    assert _knn_skeleton_copies(one) == {
        "row_number": ["_rank"],
        "popcount": ["_popcount"],
        "left_fold": ["_left_fold"],
    }
    planted = one + (
        "def kernel(frame):\n"
        "    # F.row_number() in a comment does not count\n"
        "    def score(batches):\n"
        "        for pdf in batches:\n"
        "            m = np.uint64(0x5555555555555555)\n"
        "            total = total + dd * dd\n"
        "    return frame.withColumn('r', row_number().over(w))\n"
    )
    assert _knn_skeleton_copies(planted) == {
        "row_number": ["_rank", "kernel"],
        "popcount": ["_popcount", "kernel"],
        "left_fold": ["_left_fold", "kernel"],
    }


# pyarrow.parquet's writers: the function, the dataset form and the class
_PARQUET_WRITERS = {"write_table", "write_to_dataset", "ParquetWriter"}
# its readers; pyarrow.dataset is matched by its import
_PARQUET_READERS = {"read_table", "ParquetFile", "ParquetDataset"}


def _calls(source: str, names) -> list[tuple[str, int]]:
    """(enclosing top-level function or ``<module>``, line) of each call
    in ``source`` of a function or class named in ``names``, and, for
    the name ``pyarrow.dataset``, of each import of that module."""
    hits = []
    for top in ast.parse(source).body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else "<module>"
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "attr", getattr(node.func, "id", None))
                line = node.func.end_lineno
            elif isinstance(node, ast.Import):
                name = next((a.name for a in node.names if a.name == "pyarrow.dataset"), None)
                line = node.lineno
            elif isinstance(node, ast.ImportFrom):
                dataset = node.module == "pyarrow" and any(a.name == "dataset" for a in node.names)
                name = "pyarrow.dataset" if dataset or node.module == "pyarrow.dataset" else None
                line = node.lineno
            else:
                continue
            if name in names:
                hits.append((owner, line))
    return sorted(hits, key=lambda hit: hit[1])


def _parquet_writes(source: str) -> list[tuple[str, int]]:
    return _calls(source, _PARQUET_WRITERS)


def _parquet_reads(source: str) -> list[tuple[str, int]]:
    return _calls(source, _PARQUET_READERS | {"pyarrow.dataset"})


def test_only_the_append_driver_path_writes_parquet_with_pyarrow():
    """The IVF driver writer behind the append's, the layout write's and
    the build's driver paths holds the one pyarrow parquet write."""
    found = [
        (str(path.relative_to(_PKG)), owner)
        for path in sorted(_PKG.rglob("*.py"))
        for owner, _ in _parquet_writes(path.read_text(encoding="utf-8"))
    ]
    assert found == [("operators/ann.py", "_write_list_files")], found


def test_parquet_write_lint_catches_planted_calls():
    """Negative control: the function, dataset and class writers are
    reported wherever they sit, wrapped or nested; a comment, a
    docstring and a read are not."""
    planted = (
        "import pyarrow.parquet as pq\n"
        "def _write_list_files(t, path):\n"
        "    pq.write_table(t, path)\n"
        "def spill(t, path):\n"
        '    """pq.write_table(t, path)"""\n'
        "    # pq.write_table(t, path)\n"
        "    pq.read_table(path)\n"
        "    def inner():\n"
        "        return (\n            pq\n            .write_to_dataset(t, path))\n"
        "    with pq.ParquetWriter(path, t.schema) as w:\n"
        "        w.write(t)\n"
        "write_table(t, 'x')\n"
    )
    assert _parquet_writes(planted) == [
        ("_write_list_files", 3),
        ("spill", 11),
        ("spill", 12),
        ("<module>", 14),
    ]


def test_only_collect_arrow_reads_parquet_with_pyarrow():
    found = {
        (str(path.relative_to(_PKG)), owner)
        for path in sorted(_PKG.rglob("*.py"))
        for owner, _ in _parquet_reads(path.read_text(encoding="utf-8"))
    }
    assert found == {("sources/tables.py", "collect_arrow")}, found


def test_parquet_read_lint_catches_planted_reads():
    """Negative control: the function, file and dataset readers and the
    dataset module's imports are reported wherever they sit; a comment,
    a docstring, a footer read and a write are not."""
    planted = (
        "import pyarrow.parquet as pq\n"
        "def collect_arrow(df):\n"
        "    with pq.ParquetFile(path) as f:\n"
        "        return f.read()\n"
        "def load(path):\n"
        '    """pq.read_table(path)"""\n'
        "    # pq.read_table(path)\n"
        "    pq.read_metadata(path)\n"
        "    pq.write_table(t, path)\n"
        "    t = (\n        pq\n        .read_table(path))\n"
        "    import pyarrow.dataset as ds\n"
        "    from pyarrow import dataset\n"
        "    return pq.ParquetDataset(path)\n"
        "from pyarrow.dataset import dataset\n"
    )
    assert _parquet_reads(planted) == [
        ("collect_arrow", 3),
        ("load", 12),
        ("load", 13),
        ("load", 14),
        ("load", 15),
        ("<module>", 16),
    ]


# driver-path modules whose collects go through sources.tables.collect_arrow
_COLLECT_ARROW_MODULES = ("operators/knn.py", "operators/ann.py", "plans/index_build.py")


def test_driver_paths_collect_through_collect_arrow():
    found = [
        (module, line)
        for module in _COLLECT_ARROW_MODULES
        for _, line in _calls((_PKG / module).read_text(encoding="utf-8"), {"toArrow"})
    ]
    assert not found, found


def test_to_arrow_lint_catches_planted_calls():
    """Negative control: direct and wrapped ``toArrow()`` calls are
    reported; a comment, a docstring and ``collect_arrow`` are not."""
    planted = (
        "def _driver(frame, plan):\n"
        '    """one ``toArrow()`` job"""\n'
        "    # frame.toArrow()\n"
        "    a = collect_arrow(frame, plan)\n"
        "    b = frame.toArrow()\n"
        "    return (\n        frame\n        .toArrow())\n"
    )
    assert _calls(planted, {"toArrow"}) == [("_driver", 5), ("_driver", 8)]


# Public names no package, bench, entry, script or perfbench code
# references, kept on purpose. Each is reached from tests only.
_UNREACHED_KEPT = {
    # the search API's public entry point for hard-negative mining,
    # alongside search() and search_batch()
    "search.py::mine_negatives",
    # streaming operators: kept until the four serve loops collapse into
    # one, which decides which of them that loop reaches
    "streaming/queries.py::streaming_tumbling_counts",
    "streaming/queries.py::streaming_dedup",
    "streaming/queries.py::streaming_slot_latest",
    "streaming/queries.py::serve_loop",
    "streaming/queries.py::ingest_dedup_loop",
    "streaming/stateful.py::running_user_counters",
    "streaming/stateful.py::batch_user_counters",
    # the reference's image/media decode-and-embed path (its app.py
    # upload → embed flow) as library functions
    "sources/images.py::decode_images",
    "sources/images.py::embed_images_torch",
    "sources/images.py::embed_images_pure",
    "sources/images.py::stub_embed_text",
    "sources/media.py::resize_images",
    "sources/media.py::audio_chunks",
    # the exact pass that bloom_decontaminate's approximate screen hands
    # its flagged documents to for confirmation
    "operators/decontam.py::ngram_overlap",
}


def _docstring_nodes(tree: ast.AST) -> set[int]:
    """ids of the string constants that are docstrings."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def _unreached(sources: dict[str, str], package: set[str]) -> list[str]:
    """``path::name`` of each public top-level function or class defined
    in a ``package`` source that no AST node of any source names: a
    ``Name``, an ``Attribute`` or a whole string constant. A reference
    inside the definition itself, a docstring, a comment and anything in
    an ``__init__.py`` (re-exports) do not count."""
    defs = []
    refs = set()
    for path, source in sources.items():
        tree = ast.parse(source)
        own = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                own[node.name] = (node.lineno, node.end_lineno)
                if path in package and not node.name.startswith("_"):
                    defs.append((path, node.name))
        if path.rsplit("/", 1)[-1] == "__init__.py":
            continue
        docs = _docstring_nodes(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
            ):
                name = node.value
            else:
                continue
            span = own.get(name)
            if span and span[0] <= node.lineno <= span[1]:
                continue
            refs.add(name)
    return sorted(f"{path}::{name}" for path, name in defs if name not in refs)


def _reach_sources() -> tuple[dict[str, str], set[str]]:
    package = {
        str(p.relative_to(_PKG)): p.read_text(encoding="utf-8")
        for p in sorted(_PKG.rglob("*.py"))
    }
    others = [_ROOT / "bench.py", _ROOT / "__spark_entry__.py"]
    others += sorted((_ROOT / "scripts").glob("*.py"))
    others += sorted((_ROOT / "perfbench").glob("*.py"))
    sources = dict(package)
    for p in others:
        sources[str(p.relative_to(_ROOT))] = p.read_text(encoding="utf-8")
    return sources, set(package)


def test_every_public_package_definition_is_reached():
    sources, package = _reach_sources()
    assert len(package) > 20, "package sources not found"
    found = set(_unreached(sources, package))
    assert found - _UNREACHED_KEPT == set(), (
        "public definitions nothing outside tests reaches: "
        + ", ".join(sorted(found - _UNREACHED_KEPT))
    )
    # a kept name that is now reached (or gone) leaves the set
    assert _UNREACHED_KEPT - found == set(), sorted(_UNREACHED_KEPT - found)


def test_unreached_lint_catches_planted_definitions():
    """Negative control: an unreferenced function and class, a function
    only its own body or a docstring/comment names, and one only an
    ``__init__.py`` re-exports are reported; a called function, a
    private one, and one a script looks up by string are not."""
    planted = {
        "ops.py": (
            "def used():\n    return 1\n"
            "def orphan():\n    return used()\n"
            "class Orphan:\n    pass\n"
            "def _private():\n    return None\n"
            "def recursive(n):\n    return recursive(n - 1) if n else 0\n"
            "def doc_only():\n"
            '    """Not orphan(); see exported() and recursive()."""\n'
            "    # doc_only() in a comment\n"
            "    return None\n"
            "def exported():\n    return None\n"
            "def by_string():\n    return None\n"
        ),
        "__init__.py": (
            "from .ops import exported  # noqa: F401\n"
            "__all__ = ['exported', 'orphan']\n"
        ),
        "scripts/run.py": (
            "import ops\n"
            "fn = getattr(ops, 'by_string')\n"
        ),
    }
    assert _unreached(planted, {"ops.py", "__init__.py"}) == [
        "ops.py::Orphan",
        "ops.py::doc_only",
        "ops.py::exported",
        "ops.py::orphan",
        "ops.py::recursive",
    ]
