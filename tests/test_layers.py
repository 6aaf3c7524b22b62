"""Package layering: every import edge, function bodies included, points
to the same layer or a lower one. No JVM; parses the source with ``ast``."""
import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "mknssh_11_bigdata_spark"
#: Lowest first. A module's layer is its top-level name up to the first
#: "_", so ``queries_llm`` is ``queries`` and ``__main__`` joins the root.
ORDER = [("session", "registry"), ("functions",), ("plans", "sources"),
         ("operators", "multimodal"), ("streaming",), ("pipelines",),
         ("queries",), ("",)]
LAYER = {head: i for i, heads in enumerate(ORDER) for head in heads}


def _layer(module: str) -> int:
    return LAYER[(module.split(".") + [""])[1].partition("_")[0]]


def _edges(path: pathlib.Path):
    parts = list(path.relative_to(PKG.parent).with_suffix("").parts)
    pkg, src = parts[:-1], ".".join(p for p in parts if p != "__init__")
    for n in ast.walk(ast.parse(path.read_text())):
        names = [a.name for a in n.names] if isinstance(n, ast.Import) else []
        if isinstance(n, ast.ImportFrom) and n.level:
            base = ".".join(pkg[: len(pkg) - n.level + 1])
            # from .x import y is an edge to x; from . import x names x
            names = [f"{base}.{m}" for m in
                     ([n.module] if n.module else [a.name for a in n.names])]
        elif isinstance(n, ast.ImportFrom):
            names = [n.module]
        yield from ((src, m) for m in names if m.split(".")[0] == PKG.name)


def test_imports_point_down_the_layers():
    up = {(src, dst) for p in PKG.rglob("*.py") for src, dst in _edges(p)
          if _layer(dst) > _layer(src)}
    assert not up, sorted(up)
