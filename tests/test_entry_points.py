"""Entry points: every ``addax_spark`` module is reached from the package
itself or a non-test entry point, and the spark-submit script runs the
rollup job exactly as ``job.run`` does."""

from __future__ import annotations

import ast
import json
import pathlib
import runpy
import sys

import pytest

from addax_spark import session, synth
from addax_spark.job import RollupJobSpec, run

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "addax_spark"
# everything that may count as a caller: the package, the scripts, the repo
# benchmark and the two driver entry files (never tests/)
CALLERS = [
    *PKG.rglob("*.py"),
    *(ROOT / "scripts").glob("*.py"),
    *(ROOT / "perfbench").glob("*.py"),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: pathlib.Path) -> set[str]:
    """Dotted names ``path`` imports (relative imports resolved), each with
    its parent packages, plus ``base.name`` for every ``from base import
    name`` since the name may be a submodule."""
    mod = _module_name(path)
    pkg = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = pkg.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            names.add(base)
            names |= {f"{base}.{a.name}" for a in node.names}
    return {".".join(n.split(".")[:i]) for n in names for i in range(1, n.count(".") + 2)}


def test_every_module_has_a_non_test_caller():
    """A module that only tests import is code with no caller: it goes."""
    used: set[str] = set()
    for path in CALLERS:
        used |= _imported(path) - {_module_name(path)}
    orphans = sorted(
        m for m in map(_module_name, PKG.rglob("*.py")) if m != "addax_spark" and m not in used
    )
    assert not orphans, orphans


def _options() -> dict[tuple[str, str, str], int | None]:
    """Every option of the package: a defaulted parameter (positional or
    keyword-only) of a module-level function without a leading ``_``,
    keyed (module, function, parameter), valued by its position (None for
    keyword-only); and a defaulted field of a module-level ``@dataclass``
    without a leading ``_`` (e.g. ``RollupJobSpec``), keyed (module, class,
    field), valued by its position in the generated constructor."""
    out = {}
    for path in PKG.rglob("*.py"):
        for fn in ast.parse(path.read_text()).body:
            if isinstance(fn, ast.ClassDef) and not fn.name.startswith("_") and any(
                getattr(d, "id", None) == "dataclass" for d in fn.decorator_list
            ):
                fields = [f for f in fn.body if isinstance(f, ast.AnnAssign)]
                for i, f in enumerate(fields):
                    if f.value is not None:
                        out[(_module_name(path), fn.name, f.target.id)] = i
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            for i in range(len(pos) - len(a.defaults), len(pos)):
                out[(_module_name(path), fn.name, pos[i].arg)] = i
            for arg, default in zip(a.kwonlyargs, a.kw_defaults):
                if default is not None:
                    out[(_module_name(path), fn.name, arg.arg)] = None
    return out


def test_every_public_option_is_set_by_a_caller():
    """An option no call passes, by position or keyword, from the package,
    the scripts, the benchmarks, the driver entry or the tests only ever
    takes its default: it is a constant. Calls are matched by function (or
    dataclass) name; a call with ``*args`` or ``**kwargs`` counts as passing
    all."""
    passed: set[tuple[str, str]] = set()
    for path in [*CALLERS, ROOT / "bench_extra.py", *(ROOT / "tests").glob("*.py")]:
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", getattr(call.func, "attr", None))
            if any(isinstance(x, ast.Starred) for x in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                passed.add((name, "*"))
            passed |= {(name, k.arg) for k in call.keywords}
            passed |= {(name, i) for i in range(len(call.args))}
    unset = sorted(
        f"{mod}.{fn}({arg})"
        for (mod, fn, arg), i in _options().items()
        if not {(fn, "*"), (fn, arg), (fn, i)} & passed
    )
    assert not unset, f"{len(unset)} options no caller sets: {unset}"


def test_run_job_script_matches_job_run(spark, tmp_path, monkeypatch, capsys):
    """scripts/run_job.py, run as spark-submit would, prints job.run's
    summary; the removed --config mode is an argparse usage error."""
    raw = str(tmp_path / "raw")
    synth.transcripts(spark, n_convs=8, avg_turns=10).write.parquet(raw)
    expected = run(spark, RollupJobSpec(raw, str(tmp_path / "lib"), job_id="lib"))

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    script = str(ROOT / "scripts" / "run_job.py")
    argv = [script, "--input", raw, "--output", str(tmp_path / "cli"), "--job-id", "cli"]
    monkeypatch.setattr(sys, "argv", argv)
    capsys.readouterr()
    runpy.run_path(script, run_name="__main__")
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got.pop("phases")
    expected.pop("phases")
    assert got == expected and got["units"] > 0

    monkeypatch.setattr(sys, "argv", [*argv, "--config", "job.json"])
    with pytest.raises(SystemExit) as exc:
        runpy.run_path(script, run_name="__main__")
    assert exc.value.code == 2
    assert "unrecognized arguments: --config" in capsys.readouterr().err
