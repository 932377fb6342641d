"""The package is the two CLIs: every module under `fastqdedup_spark/`
must be reachable from `fastqdedup_spark.cli` by static imports, unless
it is named below with the reason it stays. No module reaches into
Spark's private Python-to-JVM handles beyond the sites named below. And
every `DedupConfig` field and every CLI flag has a reader. No Spark
session needed."""

import argparse
import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "fastqdedup_spark"

ALLOWED_UNREACHED = {
    "fastqdedup_spark.corpus": "synthetic inputs for perfbench and the tests",
    "fastqdedup_spark.plans": "plan-audit helpers of tests/test_plans.py",
    "fastqdedup_spark.functions.simhash": "the paper's SimHash signatures",
    "fastqdedup_spark.operators.suffix_array": "the paper's substring pass",
    "fastqdedup_spark.functions.portable": (
        "SQL-replicable kernels: the reference path of the SimHash and "
        "substring oracle checks"
    ),
    "fastqdedup_spark.functions.partitioning": (
        "small-input widening read by simhash.py, suffix_array.py and two "
        "oracle queries"
    ),
}

# Private PySpark attributes that reach the JVM directly. They are not
# API and can change in any Spark release, so each site is named here
# with its reason; a new one fails the test.
PRIVATE_SPARK_ATTRS = {"_jvm", "_jsc", "_jdf", "_jo"}
PRIVATE_SPARK_SITES = {
    "fastqdedup_spark.functions.partitioning": (
        "the guarded optimizer size estimate of a plan"
    ),
    "fastqdedup_spark.plans": "the formatted plan dump the plan tests read",
}


def _modules() -> dict[str, Path]:
    mods = {}
    for path in PKG.rglob("*.py"):
        parts = path.relative_to(PKG.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(name: str, mods: dict[str, Path]) -> set[str]:
    """Package modules that `name` imports, anywhere in its body, plus
    the parent packages an import of them loads."""
    path = mods[name]
    pkg = name if path.name == "__init__.py" else name.rpartition(".")[0]
    targets = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                base = ".".join(up + ([base] if base else []))
            targets.add(base)
            targets.update(f"{base}.{a.name}" for a in node.names)
    found = set()
    for t in targets:
        while t:
            if t in mods:
                found.add(t)
            t = t.rpartition(".")[0]
    return found


def test_every_module_is_reached_from_the_cli_or_allowlisted():
    mods = _modules()
    seen, todo = set(), ["fastqdedup_spark.cli"]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(_imports(name, mods))
    unreached = sorted(set(mods) - seen - set(ALLOWED_UNREACHED))
    assert not unreached, f"modules neither CLI reaches: {unreached}"
    # an allowlist entry that a CLI now reaches, or that no longer
    # exists, is stale
    assert not set(ALLOWED_UNREACHED) & seen
    assert set(ALLOWED_UNREACHED) <= set(mods)


def test_private_spark_api_only_at_named_sites():
    sites = {}
    for name, path in _modules().items():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in PRIVATE_SPARK_ATTRS:
                sites.setdefault(name, []).append(f"{node.attr}:{node.lineno}")
    unnamed = {m: s for m, s in sites.items() if m not in PRIVATE_SPARK_SITES}
    assert not unnamed, f"private Spark API outside the named sites: {unnamed}"
    # a named site whose module no longer touches the private API is stale
    assert set(PRIVATE_SPARK_SITES) <= set(sites)


def _config_fields() -> list[str]:
    tree = ast.parse((PKG / "config.py").read_text())
    (cls,) = [
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "DedupConfig"
    ]
    return [
        n.target.id for n in cls.body
        if isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name)
    ]


def test_every_config_field_is_read():
    """A `DedupConfig` field that no package module reads as an
    attribute (`<expr>.<field>`) is a knob that changes nothing but the
    checkpoint key. config.py's own methods count as readers; its field
    declarations and `asdict` do not, since neither is an attribute
    read."""
    fields = _config_fields()
    assert len(fields) > 10
    read = set()
    for path in _modules().values():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    unread = [f for f in fields if f not in read]
    assert not unread, f"DedupConfig fields no package module reads: {unread}"


def _args_reads(func: ast.FunctionDef) -> set[str]:
    return {
        node.attr for node in ast.walk(func)
        if isinstance(node, ast.Attribute)
        and isinstance(node.ctx, ast.Load)
        and isinstance(node.value, ast.Name)
        and node.value.id == "args"
    }


def test_every_cli_flag_is_read():
    """A flag that its driver parses but never reads as `args.<dest>`
    is an option that changes nothing. Each parser is checked against
    the driver function that parses with it, so a dest the other driver
    reads does not count."""
    from fastqdedup_spark import cli

    tree = ast.parse((PKG / "cli.py").read_text())
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    for parser, driver in (
        (cli.argument_parser(), "main"),
        (cli.parity_argument_parser(), "parity_main"),
    ):
        dests = {
            a.dest for a in parser._actions
            if not isinstance(a, argparse._HelpAction)
        }
        assert len(dests) > 5
        unread = sorted(dests - _args_reads(funcs[driver]))
        assert not unread, f"{parser.prog} flags {driver} never reads: {unread}"
