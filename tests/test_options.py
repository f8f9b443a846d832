"""Every defaulted parameter of the package is set by some caller, or is
one of the knobs kept on purpose (``KEPT``). A default no caller
overrides is a constant spelled as an option; an engine/oracle twin pair
that repeats it can drift apart while both sides still match whatever
they happen to be called with.

The scan is syntactic (no Spark): calls in the package, the tests,
``scripts/``, ``perfbench/``, ``examples/``, ``bench.py`` and
``__spark_entry__.py`` are matched to definitions by name. A call sets a
parameter by keyword or by position; ``registry._stream(fn, table,
*frames, **kw)`` and ``functools.partial(fn, ...)`` set ``fn``'s."""

from __future__ import annotations

import ast
import collections
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "redis_dataflow_realtime_analytics_spark"
CALLERS = [PKG, *(ROOT / d for d in ("tests", "scripts", "perfbench", "examples"))]
CALLERS += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]

_REDIS = "deployment setting: the Redis address"
_DISPATCH = (
    "deployment path; state_reader._checkpointed_run passes it through a"
    " {kind: fn} dispatch the scan cannot follow"
)
_SHAPE = "test_replay_dirs passes every replay-shaping param as **params"
_SINK, _STATE, _PIPE, _READER = (
    f"streaming/{m}.py" for m in ("redis_sink", "stateful", "pipeline", "state_reader")
)
#: (module, qualname, parameter) → why it stays a parameter
KEPT = {
    (_SINK, "RedisMetricsSink.__init__", "host"): _REDIS,
    (_SINK, "RedisMetricsSink.__init__", "port"): _REDIS,
    (_STATE, "stream_exact_uniques_per_variant", "checkpoint_dir"): _DISPATCH,
    (_STATE, "stream_exact_uniques_per_variant_tws", "checkpoint_dir"): _DISPATCH,
    (_STATE, "stream_uniques_tws_bootstrapped", "checkpoint_dir"): (
        "deployment path: where the query's state lives"
    ),
    (_PIPE, "_heartbeat_replay_dir", "n_chunks"): _SHAPE,
    (_PIPE, "_split_replay_dir", "n_live_chunks"): _SHAPE,
    (_READER, "_ordered_chunked_replay_dir", "n_chunks"): _SHAPE,
}


def _files(p: Path) -> list[Path]:
    return [p] if p.is_file() else sorted(p.rglob("*.py"))


def _defaulted():
    """[(module, qualname, callee name, param, positional index or None)]
    over the package, and its class names; methods drop self / cls."""
    out, classes = [], set()

    def visit(node, module, prefix, in_class):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.ClassDef):
                classes.add(ch.name)
                visit(ch, module, f"{prefix}{ch.name}.", True)
            elif isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a, qual = ch.args, prefix + ch.name
                pos = a.posonlyargs + a.args
                if in_class and pos and pos[0].arg in ("self", "cls"):
                    pos = pos[1:]
                callee = ch.name
                if callee == "__init__":
                    callee = prefix.split(".")[-2] + ".__init__"
                first = len(pos) - len(a.defaults)
                for i, x in enumerate(pos[first:]):
                    out.append((module, qual, callee, x.arg, first + i))
                for x, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((module, qual, callee, x.arg, None))
                visit(ch, module, f"{qual}.", False)
            else:
                visit(ch, module, prefix, in_class)

    for f in _files(PKG):
        visit(ast.parse(f.read_text()), f.relative_to(PKG).as_posix(), "", False)
    return out, classes


def _never_set() -> set[tuple[str, str, str]]:
    params, classes = _defaulted()
    keywords, positional = collections.defaultdict(set), collections.Counter()
    for f in (f for root in CALLERS for f in _files(root)):
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            args = node.args
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            fn = args[0] if args else None
            if name in ("_stream", "partial") and isinstance(fn, (ast.Name, ast.Attribute)):
                # _stream(fn, table, *frames) calls fn(spark, path, *frames)
                n = len(args) - (name == "partial")
                name = getattr(fn, "id", None) or fn.attr
            else:
                starred = [i for i, a in enumerate(args) if isinstance(a, ast.Starred)]
                n = starred[0] if starred else len(args)
            name = f"{name}.__init__" if name in classes else name
            keywords[name].update(k.arg for k in node.keywords if k.arg)
            positional[name] = max(positional[name], n)
    return {
        (module, qual, p)
        for module, qual, callee, p, i in params
        if p not in keywords[callee] and (i is None or i >= positional[callee])
    }


def test_every_default_is_set_by_some_caller_or_kept():
    never = _never_set()
    assert never == set(KEPT), (
        f"defaulted parameters no caller sets (make each a module constant): "
        f"{sorted(never - set(KEPT))}; KEPT entries a caller now sets: "
        f"{sorted(set(KEPT) - never)}"
    )
