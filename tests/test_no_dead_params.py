"""Every parameter of every ``def`` in the package is read by its body.

A parameter the body never names is an option that does nothing: callers
pass it believing it changes the result.  The check is static (``ast``),
so it costs no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "kusuma_metamorph_etl_spark"

# (file, function, parameter) whose signature a caller outside the body
# fixes, so the parameter must stay even though the body ignores it.
ALLOWED = {
    # applyInPandasWithState calls func(key, pdf_iter, state)
    ("streaming/stateful.py", "handle", "key"),
    # _keyed_state_stream calls every per-key step as step(rows, ts_ns, prev)
    ("streaming/stateful.py", "first_row", "ts_ns"),
    # the registry calls every query as fn(spark, sf_dir)
    ("queries/core.py", "src_inline_schema", "sf_dir"),
    # subword.learn_merges calls every selection rule as pick(pairs, sym_counts)
    ("operators/bpe.py", "_most_frequent", "sym_counts"),
}


def _dead_params(root: Path) -> list[tuple[str, int, str, str]]:
    dead = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            args = node.args
            params = [a.arg for a in args.posonlyargs + args.args + args.kwonlyargs]
            params += [a.arg for a in (args.vararg, args.kwarg) if a is not None]
            named = {
                n.id for stmt in node.body for n in ast.walk(stmt) if isinstance(n, ast.Name)
            }
            for p in params:
                if p in ("self", "cls") or p in named:
                    continue
                if (rel, node.name, p) not in ALLOWED:
                    dead.append((rel, node.lineno, node.name, p))
    return dead


def test_every_parameter_is_read():
    assert _dead_params(PKG) == []


def test_checker_flags_an_unread_parameter(tmp_path):
    (tmp_path / "mod.py").write_text(
        "def f(a, b, *, c=1):\n    return a + c\n\n"
        "class K:\n    def m(self, x):\n        def g(y):\n            return y\n"
        "        return g(x)\n"
    )
    assert _dead_params(tmp_path) == [("mod.py", 1, "f", "b")]
