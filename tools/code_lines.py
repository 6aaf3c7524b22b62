"""Count code lines: not blank, not comment-only, not docstring.

Usage: python tools/code_lines.py [PATH ...]   (default: the package)
Prints one ``<lines> <file>`` row per .py file, then ``<total> total``.
Comments are found with ``tokenize``, docstrings with ``ast``."""
import ast
import pathlib
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(path: pathlib.Path) -> int:
    with path.open("rb") as f:
        rows = {r for t in tokenize.tokenize(f.readline)
                if t.type not in _SKIP
                for r in range(t.start[0], t.end[0] + 1)}
    for node in ast.walk(ast.parse(path.read_bytes())):
        doc = node.body[0] if isinstance(node, _OWNERS) and node.body else None
        if isinstance(doc, ast.Expr) and isinstance(doc.value, ast.Constant) \
                and isinstance(doc.value.value, str):
            rows -= set(range(doc.lineno, doc.end_lineno + 1))
    return len(rows)


if __name__ == "__main__":
    here = pathlib.Path(__file__).resolve().parents[1]
    args = [pathlib.Path(a) for a in sys.argv[1:]]
    files = sorted(f for a in args or [here / "mknssh_11_bigdata_spark"]
                   for f in ([a] if a.is_file() else a.rglob("*.py")))
    total = 0
    for f in files:
        total += (n := code_lines(f))
        print(f"{n:6d} {f}")
    print(f"{total:6d} total")
