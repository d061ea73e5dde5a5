"""Import smoke gate — collected FIRST (filename sorts before every
other test module).

Round 3 shipped a snapshot commit whose last-minute refactor left a
syntax error in one operator module; because the registry imports every
module, that single error emptied the registry and cascaded 27 test
failures. This module makes that structurally impossible to miss: it
parses every source file and loads the full registry without needing a
SparkSession, so it runs in milliseconds and fails loudly on any
import-time breakage.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "flink_kakfa_spark"


def test_every_source_file_parses():
    """ast.parse every .py in the package, the scripts and the entry
    point: a syntax error anywhere fails here in <1s, before any Spark
    test runs."""
    failures = []
    files = [
        *sorted(PKG.rglob("*.py")),
        *sorted((REPO / "tools").glob("*.py")),
        *sorted((REPO / "perfbench").glob("*.py")),
        REPO / "__spark_entry__.py",
    ]
    for path in files:
        try:
            ast.parse(path.read_text(), filename=str(path))
        except SyntaxError as exc:  # pragma: no cover - failure path
            failures.append(f"{path}: {exc}")
    assert not failures, "syntax errors:\n" + "\n".join(failures)


def test_registry_loads_all_queries():
    """registry.load_all() must import every operator module and
    register the full query set (no Spark session required)."""
    from flink_kakfa_spark import registry

    registry.load_all()
    assert len(registry.QUERIES) >= 100
    missing_oracles = set(registry.QUERIES) - set(registry.ORACLES)
    # only genuinely non-SQL-expressible ops may omit an oracle:
    # dedup_minhash_lsh hashes with Spark's xxhash64 (not in DuckDB);
    # sim_ivf_kmeans_topk's centroids depend on Spark's sampling;
    # quality_compression_ratio needs zlib (python-oracle verified in
    # tests/test_curation.py). The BPE pair (train/tokenize) gained
    # value-exact unrolled-CTE oracles in round 7.
    assert missing_oracles <= {
        "dedup_minhash_lsh",
        "sim_ivf_kmeans_topk",
        "quality_compression_ratio",
    }, f"queries without oracle SQL: {sorted(missing_oracles)}"


def test_no_source_file_hard_codes_a_checkout_path():
    """Code locates the checkout from ``__file__``. An absolute path
    literal that points into a checkout of this project (a directory
    holding flink_kakfa_spark/registry.py) makes a copy of the tree
    load, test or write another tree's files."""

    def in_a_checkout(literal: str) -> bool:
        path = pathlib.Path(literal)
        return any(
            (p / "flink_kakfa_spark" / "registry.py").is_file()
            for p in (path, *path.parents)
        )

    files = [
        *REPO.glob("*.py"),
        *(p for top in ("flink_kakfa_spark", "tests", "tools", "perfbench")
          for p in (REPO / top).rglob("*.py")),
    ]
    offenders = [
        f"{path.relative_to(REPO)}:{node.lineno}: {node.value!r}"
        for path in sorted(files)
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("/")
        and in_a_checkout(node.value)
    ]
    assert not offenders, "hard-coded checkout path at:\n" + "\n".join(offenders)


def test_md5_prefix_is_spelled_only_in_functions_hashing():
    """The portable md5 prefix has one home: operators call
    functions/hashing.py for both its Spark and its DuckDB forms."""
    home = PKG / "functions" / "hashing.py"
    spellings = ("substring(F.md5", "conv(substring(md5", "substr(md5(")
    offenders = [
        f"{path.relative_to(REPO)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(s in line for s in spellings)
    ]
    assert not offenders, "md5 prefix spelled outside functions/hashing.py:\n" + "\n".join(
        offenders
    )


def test_shingles_and_minhash_are_spelled_only_in_functions_shingles():
    """Word n-grams and the portable MinHash have one home: operators
    call functions/shingles.py for both engines' forms and import none
    of these pieces as a private name from another operator module."""
    import re

    home = PKG / "functions" / "shingles.py"
    spellings = [
        re.compile(r"element_at\([^()]*,\s*i \+ [12]\)"),  # Spark n-gram lambda
        re.compile(r"\[i\] \|\| ' ' \|\|"),  # DuckDB n-gram
        re.compile(r"_mh_ab\(|list_min\(list_transform\(hl"),  # MinHash
    ]
    piece = re.compile(r"(?i)shingl|ngram|minhash|_mh|band|roll")
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == home:
            continue
        text = path.read_text()
        offenders += [
            f"{path.relative_to(REPO)}:{n}: {line.strip()}"
            for n, line in enumerate(text.splitlines(), 1)
            if any(s.search(line) for s in spellings)
        ]
        if path.parent.name != "operators":
            continue
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "flink_kakfa_spark.operators"
            ):
                offenders += [
                    f"{path.relative_to(REPO)}:{node.lineno}: imports {a.name}"
                    f" from {node.module}"
                    for a in node.names
                    if a.name.startswith("_") and piece.search(a.name)
                ]
    assert not offenders, "spelled outside functions/shingles.py:\n" + "\n".join(
        offenders
    )


def _enclosing_functions(tree: ast.AST) -> dict[int, str]:
    """Line number -> name of the outermost function that holds it
    (``ast.walk`` is breadth-first, so outer definitions come first)."""
    owner = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for n in range(node.lineno, node.end_lineno + 1):
                owner.setdefault(n, node.name)
    return owner


def test_partial_layout_and_cms_cells_have_one_home():
    """The streaming monitors' per-batch partial layout is written by
    ``monitors._stream_partials`` and read by ``monitors._read_partials``
    only, and the count-min bucket hash is expanded into cells by
    ``sketches.cms_cells`` only."""
    monitors = PKG / "streaming" / "monitors.py"
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        tree = ast.parse(text)
        owner = _enclosing_functions(tree)
        for n, line in enumerate(text.splitlines(), 1):
            if "batch_id=" in line and not (
                path == monitors
                and owner.get(n) in ("_stream_partials", "_read_partials")
            ):
                offenders.append(f"{path.relative_to(REPO)}:{n}: {line.strip()}")
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "_cms_bucket_spark"
                and owner.get(node.lineno) != "cms_cells"
            ):
                offenders.append(
                    f"{path.relative_to(REPO)}:{node.lineno}: _cms_bucket_spark call"
                )
    assert not offenders, "spelled outside its one home:\n" + "\n".join(offenders)


def test_entry_module_exposes_driver_contract():
    """__spark_entry__.py must expose entry/queries/oracle_sql."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__smoke", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.entry)
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) >= 100
    assert set(oracles) <= set(qs)


def test_benchmark_import_surface_exists():
    """Every package name the benchmark (perfbench/*.py) imports, and
    every attribute it reads off an imported package module, still
    exists — and is callable wherever the benchmark calls it. A
    simplification that renames or drops one fails here, not in a
    benchmark run."""
    import importlib
    import types

    missing = []
    for path in sorted((REPO / "perfbench").glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        bound = {}  # local name -> package object
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "flink_kakfa_spark"
            ):
                mod = importlib.import_module(node.module)
                for alias in node.names:
                    name = f"{node.module}.{alias.name}"
                    try:  # a submodule is an attribute only once imported
                        obj = (
                            getattr(mod, alias.name)
                            if hasattr(mod, alias.name)
                            else importlib.import_module(name)
                        )
                    except ImportError:
                        missing.append(f"{path.name}: {name}")
                        continue
                    bound[alias.asname or alias.name] = obj
        called = {
            id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and node.id in bound:
                obj, where = bound[node.id], node.id
            elif (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and isinstance(bound.get(node.value.id), types.ModuleType)
            ):
                where = f"{node.value.id}.{node.attr}"
                if not hasattr(bound[node.value.id], node.attr):
                    missing.append(f"{path.name}: {where}")
                    continue
                obj = getattr(bound[node.value.id], node.attr)
            else:
                continue
            if id(node) in called and not callable(obj):
                missing.append(f"{path.name}: {where} is not callable")
    assert not missing, "benchmark import surface broken:\n" + "\n".join(missing)


def test_kafka_increment_reads_through_its_module_name():
    """The benchmark's traced run times the fetch by patching
    kafka_matview.read_topic_incremental and wrapping ``df.count`` on
    the frame it returns, so the increment must look that name up in
    its module when it runs and must call ``count`` on the frame."""
    from flink_kakfa_spark.streaming import kafka_matview

    code = kafka_matview.consume_wordcount_increment.__code__
    assert "read_topic_incremental" in code.co_names
    assert "count" in code.co_names
