"""Pre-commit smoke gate — ~2s, no Spark session.

Catches the round-6 class of failure (a registry edit that breaks
`__spark_entry__.queries()` / `oracle_sql()` and with it every driver
gate) before the commit, not after the round.

Usage: python scripts/smoke.py    # exit 0 = safe to commit
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> int:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() returned empty"
    assert set(oracles) == set(qs), (
        f"oracle/query key mismatch: only-in-queries="
        f"{sorted(set(qs) - set(oracles))} only-in-oracles="
        f"{sorted(set(oracles) - set(qs))}"
    )
    assert len(qs) <= 50, (
        f"{len(qs)} declared queries > the driver's 50-query CORRECTNESS "
        "cap — queries past the cap silently rotate out of the gate"
    )
    print(f"registry OK: {len(qs)} queries, all oracled")

    # bench coupling: every BENCH_QUERIES name must resolve through
    # bench.build_queries() (entry registry + the public
    # bench_retained_queries shim) — catches a registry refactor that
    # would break bench at runtime instead of pre-commit.
    import bench as benchmod

    bqs = benchmod.build_queries()
    missing = [n for n in benchmod.BENCH_QUERIES if not callable(bqs.get(n))]
    assert not missing, f"bench queries unresolved: {missing}"
    print(f"bench OK: {len(benchmod.BENCH_QUERIES)} benched queries resolve")

    # perfbench coupling: perfbench/ changes only with the benchmark, so
    # every star name it reaches must keep existing, `_REGISTERED` must
    # stay a dict it can pop, and `_probe_input_bytes(sf_dir, spark)`
    # must keep binding — a star refactor fails here, not in a bench run.
    import ast
    import inspect

    from adi_226_datawarehouse_project_spark.model import star

    used: set[str] = set()
    for f in sorted((REPO / "perfbench").glob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                    and node.value.id == "star"):
                used.add(node.attr)
            elif isinstance(node, ast.ImportFrom) and (node.module or "").endswith("model.star"):
                used.update(a.name for a in node.names)
    gone = sorted(n for n in used if not hasattr(star, n))
    assert not gone, f"perfbench uses star names that no longer exist: {gone}"
    assert isinstance(star._REGISTERED, dict), "star._REGISTERED is no longer a dict"
    inspect.signature(star._probe_input_bytes).bind("sf_dir", None)
    print(f"perfbench coupling OK: {len(used)} star names resolve")

    # call-site binding: every call in bench.py and scripts/*.py to a
    # package function (imported by name, or as `module.fn` through an
    # imported package module) must bind the signature it reaches —
    # positional count and keyword names; `*`/`**` calls are skipped.
    # A removed or renamed parameter fails here, not in a script run.
    import importlib
    import types

    pkg_name = "adi_226_datawarehouse_project_spark"
    stale: list[str] = []
    n_calls = 0
    for f in [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py"))]:
        tree = ast.parse(f.read_text())
        names: dict[str, object] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(pkg_name):
                mod = importlib.import_module(node.module)
                for a in node.names:
                    names[a.asname or a.name] = getattr(mod, a.name, None) or (
                        importlib.import_module(f"{node.module}.{a.name}")
                    )
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if isinstance(fn, ast.Name):
                target = names.get(fn.id)
            elif isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name):
                owner = names.get(fn.value.id)
                target = getattr(owner, fn.attr, None) if isinstance(owner, types.ModuleType) else None
            else:
                continue
            if not isinstance(target, types.FunctionType):
                continue
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                continue
            n_calls += 1
            try:
                inspect.signature(target).bind(
                    *[None] * len(node.args), **{k.arg: None for k in node.keywords}
                )
            except TypeError as e:
                stale.append(f"{f.relative_to(REPO)}:{node.lineno} {target.__name__}: {e}")
    if stale:
        print("call sites that no longer bind:\n  " + "\n  ".join(stale), file=sys.stderr)
        return 1
    print(f"call-site binding OK: {n_calls} package calls in bench.py and scripts/ bind")

    # ADVICE hygiene (VERDICT r8 #5): an entry NOT annotated as fixed
    # (not struck through) must cite a path:line that still resolves —
    # two rounds running, ADVICE described already-fixed findings. A
    # warning, not a gate: the fix-commit rule is process, this just
    # makes the rot visible at commit time.
    import re

    advice = REPO / "ADVICE.md"
    if advice.exists():
        for ln in advice.read_text().splitlines():
            if not ln.startswith("- **"):  # struck entries start "- ~~**"
                continue
            for path, lineno in re.findall(r"([\w./-]+\.(?:py|md|sql)):(\d+)", ln):
                f = REPO / path
                if not f.exists():
                    print(f"WARNING: ADVICE cites missing file {path}")
                elif int(lineno) > len(f.read_text().splitlines()):
                    print(
                        f"WARNING: ADVICE cites {path}:{lineno} past EOF "
                        "— entry likely stale; fix or strike it"
                    )

    # one way to pin: only pin.py materializes frames (model/star.py's
    # cacheTable star-view cache is its own, already-owned lifecycle)
    pkg = REPO / "adi_226_datawarehouse_project_spark"
    pin_calls = {"persist", "cache", "localCheckpoint", "checkpoint"}
    stray = [
        f"{f.relative_to(REPO)}:{node.lineno} .{node.func.attr}("
        for f in sorted(pkg.rglob("*.py"))
        if f != pkg / "pin.py"
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in pin_calls
    ]
    if stray:
        print("pin outside pin.py (use pin.pin):\n  " + "\n  ".join(stray), file=sys.stderr)
        return 1
    print("pin gate OK: only pin.py materializes frames")

    # reachability: every package module is imported by some non-test
    # file; `__init__` re-exports and a module's own imports don't count.
    # A keep entry that becomes imported (or is gone) fails too.
    keep = {
        "plans.golden_df": "the DataFrame twin the goldens are compared against",
        "operators.skew": "salting, the candidate fix for the hot-key items",
    }
    def dotted(f: Path) -> str:
        return ".".join(f.relative_to(REPO).with_suffix("").parts)

    mods = sorted(dotted(f) for f in pkg.rglob("*.py") if f.name != "__init__.py")
    roots = [
        *pkg.rglob("*.py"), REPO / "__spark_entry__.py", REPO / "bench.py",
        *(REPO / "perfbench").glob("*.py"), *(REPO / "scripts").glob("*.py"),
    ]
    trees = {
        f: ast.parse(f.read_text()) for f in roots
        if f.name != "__init__.py" and not f.name.startswith("test_")
    }
    imported: set[str] = set()
    for f, tree in trees.items():
        here = dotted(f)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                # level 1 is the importer's own package
                parts = here.split(".")[: -node.level] if node.level else []
                base = ".".join(parts + ([node.module] if node.module else []))
                names = [base, *(f"{base}.{a.name}" for a in node.names)]
            else:
                continue
            imported.update(n for n in names if n != here)
    short = {m: m.removeprefix(f"{pkg.name}.") for m in mods}
    unreached = [short[m] for m in mods if m not in imported and short[m] not in keep]
    stale_mods = sorted(
        k for k in keep if f"{pkg.name}.{k}" in imported or f"{pkg.name}.{k}" not in mods
    )
    if unreached:
        print("modules no non-test file imports:\n  " + "\n  ".join(unreached), file=sys.stderr)
    if stale_mods:
        print("module keep entries that are imported or gone (drop them):\n  "
              + "\n  ".join(stale_mods), file=sys.stderr)
    if unreached or stale_mods:
        return 1
    print(f"reachability gate OK: {len(mods) - len(keep)} modules imported outside "
          f"tests, {len(keep)} kept ({', '.join(sorted(keep))})")

    # function reachability: every top-level def/class of a package
    # module is named (Name, Attribute or ImportFrom) somewhere in the
    # same non-test roots; names only, so a same-named local counts. An
    # ImportFrom counts only where the importing file uses the name it
    # binds, so an unused import reaches nothing.
    fn_keep = {
        "normalize_upper": "F1, trim+upper normalization",
        "normalize_lower": "F2, trim+lower normalization",
        "date_key": "F9, the YYYYMMDD date surrogate",
        "bbox_filter": "P4, the bounding-box predicate",
        "duration_hours": "P13, the conditional duration",
        "nullif_blank": "P14, NULLIF(TRIM(x), '')",
        "clean_currency": "P15, the TRY_CAST currency parse",
        "encode_geohash_py": "the bisection oracle geohash_sql is checked against",
        "golden_df": "the DataFrame twin the goldens are compared against",
        "run_corpus_pipeline": "a pipeline entry point",
        "ingest_if_absent": "K8, the idempotent-skip source check",
        "read_json_with_csv_fallback": "S5, the JSON-then-CSV source policy",
        "wait_for": "the sensor poll of SURVEY 2.12",
        "matches": "a staging validation check",
        "in_set": "a staging validation check",
        "approx_unique": "a staging validation check",
        "salted_join": "salting, the candidate fix for the hot-key items",
        "salted_agg": "salting, the candidate fix for the hot-key items",
        "write_bucketed_table": "the DISTKEY analog on the scale list",
        "collect_stats": "the planner-stats analog on the scale list",
        "compact_table": "small-file compaction on the scale list",
        "observe_stream": "streaming telemetry",
        "collect_observed": "streaming telemetry",
    }
    named: set[str] = set()
    defined: list[tuple[str, str]] = []
    for f, tree in trees.items():
        used: set[str] = set()
        imports: list[ast.alias] = []
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                imports += node.names
        named |= used
        named.update(a.name for a in imports if (a.asname or a.name) in used)
        if f.is_relative_to(pkg):
            defined += [
                (node.name, f"{short[dotted(f)]}.{node.name}") for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            ]
    dead = sorted(q for n, q in defined if n not in named and n not in fn_keep)
    stale_keep = sorted(n for n in fn_keep if n in named or n not in dict(defined))
    if dead:
        print("package functions no non-test file names:\n  " + "\n  ".join(dead),
              file=sys.stderr)
    if stale_keep:
        print("function keep entries that are reached or gone (drop them):\n  "
              + "\n  ".join(stale_keep), file=sys.stderr)
    if dead or stale_keep:
        return 1
    print(f"function reachability gate OK: {len(defined) - len(fn_keep)} top-level "
          f"defs named outside tests, {len(fn_keep)} kept")

    # oracle independence in the registry module: a Spark side never
    # reaches DuckDB text, an oracle never reaches Spark code. Functions
    # taking the dialect `d` render shared SQL for both engines and are
    # neither followed nor flagged.
    suite = pkg / "plans" / "operators_suite.py"
    tree = ast.parse(suite.read_text())
    defs: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            defs[node.name] = node
        elif isinstance(node, ast.Assign):
            defs.update((t.id, node) for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                defs[(a.asname or a.name).split(".")[0]] = node
    shared = {
        n for n, node in defs.items()
        if isinstance(node, ast.FunctionDef) and any(a.arg == "d" for a in node.args.args)
    }

    def reach(roots: list[str]) -> dict[str, str]:
        """Module-level names reachable from `roots` -> the name that reached each."""
        seen = {r: r for r in roots}
        todo = list(roots)
        while todo:
            cur = todo.pop()
            node = defs[cur]
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            for sub in ast.walk(node):
                n = sub.id if isinstance(sub, ast.Name) else None
                if n in defs and n not in seen and n not in shared:
                    seen[n] = cur
                    todo.append(n)
        return seen

    def is_oracle(n: str) -> bool:
        return n.startswith(("_duck_", "_DUCK_")) or n.endswith(("_ORACLE", "_oracle"))

    spark_roots = sorted(n for n in defs if n.startswith(("_spark_", "_bench_")))
    oracle_roots = sorted(n for n in defs if is_oracle(n) and n not in shared)
    crossed = [
        f"spark side {via} -> {n}"
        for n, via in reach(spark_roots).items() if is_oracle(n)
    ] + [
        f"oracle side {via} -> {n}"
        for n, via in reach(oracle_roots).items()
        if n in {"F", "pin", "load_table"} or n.startswith("_spark_")
    ]
    if crossed:
        print("oracle-independence breaches in operators_suite.py:\n  "
              + "\n  ".join(sorted(crossed)), file=sys.stderr)
        return 1
    print(f"oracle-independence gate OK: {len(spark_roots)} Spark sides, "
          f"{len(oracle_roots)} oracle names, {len(shared)} dialect-rendered shared")

    rc = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q",
         "--no-header", "-p", "no:cacheprovider"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    tail = (rc.stdout or "").strip().splitlines()[-1:] or ["(no output)"]
    print(f"pytest collect: {tail[0]}")
    if rc.returncode != 0:
        print(rc.stdout[-3000:], file=sys.stderr)
        print(rc.stderr[-2000:], file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
