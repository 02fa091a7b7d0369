"""Registry/driver-contract consistency guards."""

from __future__ import annotations

import re
from pathlib import Path

from mimic_iv_data_pipeline_spark.queries import all_oracles, all_queries

REPO = Path(__file__).resolve().parent.parent


def test_every_oracle_has_a_query():
    queries, oracles = all_queries(), all_oracles()
    assert set(oracles) <= set(queries)
    # only the hash-based / approximate ops may lack an oracle
    no_oracle = set(queries) - set(oracles)
    # q56 graduated in r3: exact column + a deterministic tolerance
    # boolean give the HLL sketch a real (partial) oracle row
    assert no_oracle == {
        "q40_minhash_lsh",
        "q41_simhash",
        "q44_ann_lsh",
        "q53_ann_ivf",
        "q60_embedding_neardup_lsh",
        "q87_semantic_dedup",  # k-means cells: no SQL twin
        "q91_pca_project",  # eigenvector sign/order is engine-specific
        "q93_bpe_tokenize",  # iterative merge induction: no SQL twin
        "q102_pq_encode",  # k-means codebooks: no SQL twin
        "q103_pq_topk",
        "q104_pq_rerank",
        "q105_wordpiece",  # iterative merge induction: no SQL twin
        "q106_unigram_lm",  # EM fit: no SQL twin
        "q107_incremental_dedup",  # xxhash64 signatures: no SQL twin
        "q114_ivfpq",  # k-means quantizers: no SQL twin
        "q115_kmeans",  # iterative fit: no SQL twin
        "q122_rag_retrieve",  # IVF path: no SQL twin
    }


def test_readme_references_real_queries():
    """Every qNN mentioned in README/PERF must exist in the registry —
    guards the coverage table against drift."""
    queries = all_queries()
    prefixes = {name.split("_")[0] for name in queries}
    for doc in ["README.md", "PERF.md"]:
        text = (REPO / doc).read_text()
        for ref in set(re.findall(r"\bq\d{2}\b", text)):
            assert ref in prefixes, f"{doc} references unknown query {ref}"


def test_driver_shim_exports():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_shim", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.entry)
    assert set(mod.oracle_sql()) <= set(mod.queries())
    assert len(mod.queries()) == len(all_queries())


# Package defs that no registered query, pipeline stage, benchmark or
# script reaches, kept on purpose. Key: "<module under the package>.<def>".
_KEEP_UNREACHED = {
    # paper stages (SURVEY.md §2) not yet composed into run_pipeline
    "plans.features.preproc_diagnoses": "paper stage: diagnoses preprocessing, not yet in run_pipeline",
    "plans.features.prepare_icd_map": "paper stage: ICD-9→10 map for preproc_diagnoses",
    "plans.features.preproc_meds": "paper stage: medications preprocessing, not yet in run_pipeline",
    "plans.timeseries.medication_signal": "paper stage: medication time series, not yet in run_pipeline",
    "plans.tokenization.lab_tokens": "paper stage: BEHRT lab tokens, not yet in run_pipeline",
    "plans.tokenization.condition_tokens": "paper stage: BEHRT condition tokens, not yet in run_pipeline",
    "plans.ml_assembly.train_test_split_ids": "paper stage: the reference's train/test split",
    "functions.scalars.age_years": "paper stage: cohort age derivation",
    "functions.scalars.anchor_group_end_year": "paper stage: cohort anchor-year derivation",
    "functions.scalars.epc_classes": "paper stage: medication EPC classes",
    "sources.schemas.align_columns": "paper stage: MIMIC-IV v1/v2 column aliasing",
    "sources.readers.read_csv_gz": "source surface: the reference's csv.gz inputs",
    "sources.readers.read_tsv_map": "source surface: the reference's TSV mapping tables",
    "sources.readers.read_glob_csv": "source surface: the reference's csv globs",
    "sources.sinks.write_csv_gz": "sink surface: the reference's csv.gz stage files",
    "sources.sinks.write_summary_text": "sink surface: the reference's cohort summary text",
    "operators.nlp.entity_summary": "paper stage: notes entity summary",
    # reference implementations that tests compare kept operators against
    "operators.windows.impute_cascade": "paper T6 cascade; generate_timeseries inlines it",
    "operators.history.as_of": "reference that pins pit_join",
    "operators.bpe._encode_word": "reference for the BPE word encoder",
}


def _package_defs_and_reach():
    """AST walk: every top-level def of the package, and the defs reached
    from the query modules, the package's module-level code, and the
    names that bench.py, perfbench/, scripts/ and __spark_entry__.py use.
    A name resolves through the module's own defs and its
    ``from <package module> import name`` statements (re-exports are
    followed). Returns (defs, reach, calls) where ``reach(roots)`` is the
    set of defs reachable from ``roots`` plus the fixed entry points, and
    ``calls`` lists (def, ast.Call) for every call of a package def in
    that code."""
    import ast

    pkg = REPO / "mimic_iv_data_pipeline_spark"
    trees, imports, defs = {}, {}, {}

    def add(key, tree):
        trees[key], imports[key] = tree, {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(pkg.name):
                for a in node.names:
                    imports[key][a.asname or a.name] = (node.module, a.name)

    def_types = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for path in sorted(pkg.rglob("*.py")):
        parts = path.relative_to(REPO).with_suffix("").parts
        mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        add(mod, ast.parse(path.read_text()))
        for node in trees[mod].body:
            if isinstance(node, def_types):
                defs[(mod, node.name)] = node
    external = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    external += sorted((REPO / "perfbench").glob("*.py"))
    external += sorted((REPO / "scripts").glob("*.py"))
    for path in external:
        add(str(path), ast.parse(path.read_text()))

    def resolve(mod, name, attrs):
        for _ in range(10):  # bounded re-export chase
            if (mod, name) in defs:
                return (mod, name)
            if name not in imports.get(mod, {}):
                return None
            src, orig = imports[mod][name]
            if f"{src}.{orig}" in trees:  # `from pkg import submodule`
                if not attrs:
                    return None
                mod, name, attrs = f"{src}.{orig}", attrs[0], attrs[1:]
            else:
                mod, name = src, orig
        return None

    def target(mod, n):
        chain = []
        while isinstance(n, ast.Attribute):
            chain.append(n.attr)
            n = n.value
        if isinstance(n, ast.Name):
            return resolve(mod, n.id, tuple(reversed(chain)))
        return None

    def refs(mod, node):
        for n in ast.walk(node):
            if isinstance(n, (ast.Name, ast.Attribute)):
                yield target(mod, n)

    queries = {key for key in defs if key[0].startswith(f"{pkg.name}.queries")}
    module_code = []  # decorators and non-def statements run at import
    for mod, tree in trees.items():
        for node in tree.body:
            if isinstance(node, def_types):
                module_code += [(mod, d) for d in node.decorator_list]
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                module_code.append((mod, node))

    def reach(roots):
        seen = set(roots) | queries
        work = [(mod, defs[(mod, name)]) for mod, name in seen] + module_code
        while work:
            mod, node = work.pop()
            for key in refs(mod, node):
                if key is not None and key not in seen:
                    seen.add(key)
                    work.append((key[0], defs[key]))
        return seen

    calls = [
        (key, n)
        for mod, tree in trees.items()
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and (key := target(mod, n.func)) is not None
    ]
    return defs, reach, calls


def test_every_package_function_is_reached():
    """No package def is dead: each is reached from a registered query,
    the pipeline, a benchmark or a script, or is on _KEEP_UNREACHED with
    its reason. The keep list itself names only live, unreached defs."""
    defs, reach, _ = _package_defs_and_reach()
    pkg = "mimic_iv_data_pipeline_spark."
    keep = {(pkg + k.rpartition(".")[0], k.rpartition(".")[2]) for k in _KEEP_UNREACHED}

    def names(keys):
        return sorted(f"{mod.removeprefix(pkg)}.{name}" for mod, name in keys)

    gone = names(keep - set(defs))
    assert not gone, f"keep-list entries that no longer exist: {gone}"
    stale = names(keep & reach(set()))
    assert not stale, f"keep-list entries now reached (drop them from the list): {stale}"
    dead = names(set(defs) - reach(keep))
    assert not dead, f"unreached package defs (delete them or add to _KEEP_UNREACHED): {dead}"


# Selector options that no caller outside tests/ sets to anything but the
# default, kept on purpose. Key: "<module under the package>.<def>.<param>".
_KEEP_SINGLE_VALUED = {
    # semantic variants: the value changes the output, not the implementation
    "operators.graph.bfs_levels.directed": "semantic variant: undirected reachability",
    "operators.graph.triangle_count.per_node": "semantic variant: one global count, not per-node rows",
    "plans.survival.survival_sequences.reverse": "semantic variant: chronological sequences",
    "plans.ml_assembly.ml_feature_matrix.wide": "semantic variant: long (id, code, feature) rows",
    "operators.history.pit_join.how": "semantic variant: join type (inner drops unmatched left rows)",
    "operators.sketches.bloom_prefilter_join.how": "semantic variant: join type (semi/anti/inner)",
    "operators.sampling.oversample_minority.balance": "semantic variant: 'all' lifts every class to the majority",
    "plans.features.preproc_diagnoses.grouping": "reference notebook's ICD keep/convert/group widget",
    "plans.ml_assembly.ml_feature_matrix.agg": "reference's mean/max feature aggregates",
    # reference implementations that tests compare the default path against
    "operators.dedup.semantic_dedup.pairs": "'join' is the reference the pandas kernel is tested against",
}


def _string_selected(node, param):
    """True if the body of def ``node`` compares ``param`` with string
    constants: ``==``/``!=`` a string, ``in``/``not in`` a tuple, list or
    set of strings, or a subscript of a dict literal with string keys."""
    import ast

    def is_param(n):
        return isinstance(n, ast.Name) and n.id == param

    def is_str(n):
        return isinstance(n, ast.Constant) and isinstance(n.value, str)

    for n in ast.walk(node):
        if isinstance(n, ast.Compare) and len(n.ops) == 1:
            left, op, right = n.left, n.ops[0], n.comparators[0]
            if isinstance(op, (ast.Eq, ast.NotEq)):
                if (is_param(left) and is_str(right)) or (is_str(left) and is_param(right)):
                    return True
            elif isinstance(op, (ast.In, ast.NotIn)) and is_param(left):
                if isinstance(right, (ast.Tuple, ast.List, ast.Set)) and right.elts and all(
                    is_str(e) for e in right.elts
                ):
                    return True
        if (
            isinstance(n, ast.Subscript)
            and isinstance(n.value, ast.Dict)
            and is_param(n.slice)
            and n.value.keys
            and all(k is not None and is_str(k) for k in n.value.keys)
        ):
            return True
    return False


def test_every_selector_option_is_selected():
    """Every package def parameter that selects a branch is passed some
    other expression by at least one call outside tests/ (a call through
    ``**kwargs`` counts), or is on _KEEP_SINGLE_VALUED with its reason: an
    option no workload sets is a dead branch. A selector is a parameter
    with a bool literal default, or with a str literal default that the
    def's body compares against string constants (see _string_selected).
    The keep list itself names only live, single-valued options."""
    import ast

    defs, _, calls = _package_defs_and_reach()
    pkg = "mimic_iv_data_pipeline_spark."
    options = {}  # "<module>.<def>.<param>" -> (def key, param, position or None, default)
    for (mod, name), node in defs.items():
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
        pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        for param, default in pairs:
            if not isinstance(default, ast.Constant):
                continue
            value = default.value
            if isinstance(value, bool) or (
                isinstance(value, str) and _string_selected(node, param.arg)
            ):
                pos = positional.index(param) if param in positional else None
                key = f"{mod.removeprefix(pkg)}.{name}.{param.arg}"
                options[key] = ((mod, name), param.arg, pos, value)

    def is_default(arg, default):
        return (
            isinstance(arg, ast.Constant)
            and type(arg.value) is type(default)
            and arg.value == default
        )

    def selects(call, param, pos, default):
        if any(kw.arg is None for kw in call.keywords):  # **kwargs
            return True
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                return pos is not None and pos >= i
            if i == pos:
                return not is_default(arg, default)
        for kw in call.keywords:
            if kw.arg == param:
                return not is_default(kw.value, default)
        return False

    gone = sorted(set(_KEEP_SINGLE_VALUED) - set(options))
    assert not gone, f"keep-list entries that no longer exist: {gone}"
    selected = {
        key
        for key, (fn, param, pos, default) in options.items()
        if any(callee == fn and selects(call, param, pos, default) for callee, call in calls)
    }
    stale = sorted(set(_KEEP_SINGLE_VALUED) & selected)
    assert not stale, f"keep-list entries now selected (drop them from the list): {stale}"
    single = sorted(set(options) - selected - set(_KEEP_SINGLE_VALUED))
    assert not single, (
        "selector options no caller outside tests/ sets (delete the option and its "
        f"unused branch, or add to _KEEP_SINGLE_VALUED): {single}"
    )


def test_every_pin_goes_through_materialize():
    """``engine.materialize`` is the package's only pin. A
    ``persist()``/``cache()`` pin enters Spark's CacheManager and is
    never released (each distinct input adds an entry for the session's
    life, and later queries' plans read it), and a raw
    ``localCheckpoint``/``checkpoint`` call bypasses the
    ``spark.graft.materialize`` seam."""
    import ast

    pins = {"persist", "cache", "localCheckpoint", "checkpoint"}
    pkg = REPO / "mimic_iv_data_pipeline_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path == pkg / "engine.py":
            seam = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "materialize"
            )
            allowed = {id(n) for n in ast.walk(seam)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in pins
                and id(node) not in allowed
            ):
                where = f"{path.relative_to(REPO)}:{node.func.end_lineno}"
                found.append(f"{where} .{node.func.attr}(")
    assert not found, (
        "pins outside engine.materialize (use df.transform(materialize), or "
        f"drop the pin if the relation has one consumer): {found}"
    )


def test_every_query_reads_through_load_table():
    """``sources.readers.load_table`` is the registered queries' only
    table reader. A raw ``spark.read`` skips the schema catalog, so the
    query starts a schema-inference job every time it is built, and an
    ``events`` read skips the nanos/NTZ timestamp shim."""
    import ast

    readers = "mimic_iv_data_pipeline_spark.sources.readers"
    found = []
    for path in sorted((REPO / "mimic_iv_data_pipeline_spark" / "queries").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                bad = [".read"]
            elif isinstance(node, ast.ImportFrom) and node.module == readers:
                bad = [f"imports {a.name}" for a in node.names if a.name != "load_table"]
            else:
                continue
            found += [f"{path.relative_to(REPO)}:{node.lineno} {b}" for b in bad]
    assert not found, f"table reads that bypass load_table: {found}"


def test_query_build_starts_no_job_once_catalogued(spark, sf_smoke, jobs_started):
    """Once a table's schema is catalogued, building a query over it
    starts no Spark job (q84 reads ``documents``)."""
    q84 = all_queries()["q84_nfc_normalize"]
    q84(spark, sf_smoke)  # catalogues the schema, once
    assert jobs_started(lambda: q84(spark, sf_smoke)) == []
