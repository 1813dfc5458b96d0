"""Every option of a public package function has a production caller.

A defaulted parameter of a public top-level function in ``trajlib_spark/``
(``oracles.py`` excluded) must be passed a non-default value by some call
outside ``tests/``: in the package itself, the driver contract, the bench
scripts, ``tools/`` or ``perfbench/``. Anything else is a configuration
only tests reach, and belongs in a module constant or a fixed column name
(tests monkeypatch the constant or rename their columns).

The scan is by AST. A call is matched to a definition by function name;
a positional argument in the parameter's slot, a ``*args`` / ``**kwargs``
splat, or a keyword whose value is not the default (a literal equal to it,
or the same name) counts as setting it. A parameter nobody sets must be on
``KEEP`` with the reason it stays.
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "trajlib_spark")
CALLERS = ("trajlib_spark", "__spark_entry__.py", "bench.py", "run_pipeline.py",
           "tools", "perfbench")

PERFBENCH = "perfbench passes it (perfbench is frozen)"
CAPABILITY = "a BASELINE/COVERAGE capability a test checks"
OPERATIONAL = "an operational setting of a run"

KEEP = {
    "operators/features.py::spatial_features(traj)": PERFBENCH,
    "operators/raster.py::tile_counts(salt)":
        CAPABILITY + ": salted hot-cell counts (BASELINE north star, DS2 skew)",
    "operators/ann.py::cosine_topk(metric)":
        CAPABILITY + ": the reference's L1 embedding cdist (COVERAGE)",
    "plans/pages_pipeline.py::run_pages_pipeline(resume)": OPERATIONAL,
}


def _py_files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for d, _dirs, files in os.walk(path):
        if "__pycache__" not in d:
            yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def _defaulted_params() -> dict[str, list[tuple[str, ast.expr, int | None]]]:
    """'<module>::<function>' → [(param, default expr, positional slot)]."""
    out = {}
    for path in _py_files(PKG):
        if os.path.basename(path) == "oracles.py":
            continue
        mod = os.path.relpath(path, PKG)
        for node in ast.parse(open(path).read()).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            params = [(pos[len(pos) - len(a.defaults) + i].arg, d,
                       len(pos) - len(a.defaults) + i) for i, d in enumerate(a.defaults)]
            params += [(p.arg, d, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                       if d is not None]
            if params:
                out[f"{mod}::{node.name}"] = params
    return out


def _calls() -> dict[str, list[ast.Call]]:
    out: dict[str, list[ast.Call]] = {}
    for top in CALLERS:
        for path in _py_files(os.path.join(ROOT, top)):
            for node in ast.walk(ast.parse(open(path).read())):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = getattr(f, "id", None) or getattr(f, "attr", None)
                    if name:
                        out.setdefault(name, []).append(node)
    return out


def _is_default(value: ast.expr, default: ast.expr) -> bool:
    try:
        v, d = ast.literal_eval(value), ast.literal_eval(default)
        return type(v) is type(d) and v == d
    except ValueError:
        name = lambda e: getattr(e, "id", None) or getattr(e, "attr", None)  # noqa: E731
        return name(value) is not None and name(value) == name(default)


def _sets(call: ast.Call, param: str, default: ast.expr, slot: int | None) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if slot is not None and slot < len(call.args):
        return True
    for kw in call.keywords:
        if kw.arg is None:
            return True
        if kw.arg == param:
            return not _is_default(kw.value, default)
    return False


def _unset() -> tuple[int, list[str]]:
    calls = _calls()
    total, unset = 0, []
    for key, params in _defaulted_params().items():
        fname = key.split("::")[1]
        for param, default, slot in params:
            total += 1
            if not any(_sets(c, param, default, slot) for c in calls.get(fname, [])):
                unset.append(f"{key}({param})")
    return total, unset


def test_every_package_option_is_set_outside_tests():
    total, unset = _unset()
    missing = sorted(set(unset) - set(KEEP))
    assert not missing, (
        f"{len(missing)} defaulted parameters are set by no caller outside tests/ "
        f"(make them constants, or add them to KEEP with a reason): {missing}"
    )
    # a KEEP entry whose parameter is gone or now set is stale
    stale = sorted(set(KEEP) - set(unset))
    assert not stale, f"KEEP entries no longer needed: {stale}"
    assert total <= 76, f"{total} defaulted parameters on public package functions"


def test_scan_sees_an_unset_option(tmp_path, monkeypatch):
    """The scan itself: a new public function with an option nobody sets
    is reported, and a call that sets it clears it."""
    pkg = tmp_path / "trajlib_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text("def op(df, width=3, name='x'):\n    return df\n")
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "t.py").write_text("op(df, name='x')\n")
    me = sys.modules[__name__]
    monkeypatch.setattr(me, "ROOT", str(tmp_path))
    monkeypatch.setattr(me, "PKG", str(pkg))
    assert _unset() == (2, ["m.py::op(width)", "m.py::op(name)"])
    (tmp_path / "tools" / "t.py").write_text("op(df, 4, name='y')\n")
    assert _unset() == (2, [])
