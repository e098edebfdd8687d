"""Spans recorded from outside the engine.

``install()`` wraps the public functions of the engine's modules (and
the ``ResdataCase`` methods, and a few PySpark entry points) so that each
call records a span: name, layer, start, end, parent span, run id.  The
engine's code is not changed; the wrappers are installed by rebinding
module attributes, including names other engine modules imported with
``from x import f``.  Spans stay in memory and are written out at exit.

``Tracer.enabled`` switches recording on and off between passes; the
wrappers stay installed and cost one attribute test when off.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time

#: Engine modules whose public functions are wrapped, and the layer each
#: belongs to.
MODULE_LAYERS = {
    "res2df_spark.sources.deck": "sources.deck",
    "res2df_spark.sources.eclbin": "sources.eclbin",
    "res2df_spark.modules.summary": "modules",
    "res2df_spark.modules.grid": "modules",
    "res2df_spark.modules.compdat": "modules",
    "res2df_spark.modules.gruptree": "modules",
    "res2df_spark.modules.wcon": "modules",
    "res2df_spark.modules.rft": "modules",
    "res2df_spark.modules.tables": "modules",
    "res2df_spark.modules.wlist": "modules",
    "res2df_spark.sinks.writers": "sinks.writers",
    "res2df_spark.sinks.df2res": "sinks.df2res",
    "res2df_spark.suite": "suite",
    "res2df_spark.suite_ext": "suite",
}
PACKAGE_LAYERS = {
    "res2df_spark.operators": "operators",
    "res2df_spark.llm": "llm",
    "res2df_spark.functions": "operators",
}

#: Functions never wrapped: generators (a span would close before the
#: work), and helpers called per row or per token.
SKIP = {"iter_keywords", "looks_like_keyword", "known_keywords"}

#: Layers that record spans inside a pass; ``bench`` is the harness's own
#: glue.  (The ``session`` layer is timed once, at set-up.)
LAYERS = ["sources.deck", "sources.eclbin", "case", "modules", "operators", "llm",
          "sinks.writers", "sinks.df2res", "suite", "spark", "bench"]


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.counts: dict[str, float] = {}

    def add(self, key: str, n: float):
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0) + n

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def write(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    __slots__ = ("t", "name", "layer", "rec")

    def __init__(self, t: Tracer, name: str, layer: str):
        self.t, self.name, self.layer, self.rec = t, name, layer, None

    def __enter__(self):
        t = self.t
        if t.enabled:
            self.rec = {"id": len(t.spans), "name": self.name, "layer": self.layer,
                        "parent": t.stack[-1] if t.stack else None,
                        "run": t.run_id, "start": time.perf_counter(), "end": None}
            t.spans.append(self.rec)
            t.stack.append(self.rec["id"])
        return self

    def __exit__(self, *exc):
        if self.rec is not None:
            self.rec["end"] = time.perf_counter()
            self.t.stack.pop()
        return False


def _wrap(fn, name: str, layer: str, tracer: Tracer, count=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name, layer):
            out = fn(*args, **kwargs)
        if count is not None:
            count(tracer, args, kwargs, out)
        return out

    return wrapper


def _bytes_in(tracer, args, kwargs, out):
    tracer.add("sources.eclbin.bytes_read",
               sum(len(a) for a in args if isinstance(a, (bytes, bytearray, memoryview))))


def _records(tracer, args, kwargs, out):
    tracer.add("sources.deck.records", len(out))


def _rows_in(tracer, args, kwargs, out):
    data = args[1] if len(args) > 1 else kwargs.get("data")
    try:
        tracer.add("spark.create_df_rows", len(data))
    except TypeError:
        pass


def _file_size(key, arg):
    def count(tracer, args, kwargs, out):
        path = args[arg] if len(args) > arg else None
        if isinstance(path, str) and os.path.exists(path):
            size = os.path.getsize(path)
            if path.endswith(".SMSPEC"):
                unsmry = path[: -len(".SMSPEC")] + ".UNSMRY"
                size += os.path.getsize(unsmry) if os.path.exists(unsmry) else 0
            elif os.path.isdir(path):
                size = sum(os.path.getsize(os.path.join(r, f))
                           for r, _d, fs in os.walk(path) for f in fs)
            tracer.add(key, size)
    return count


def _ensemble_bytes(tracer, args, kwargs, out):
    """Bytes of the runs an ensemble ingest reads.  It decodes them on
    executor workers, where nothing is wrapped, so the driver counts the
    SMSPEC/UNSMRY files its glob names."""
    import glob

    pattern = args[1] if len(args) > 1 else kwargs.get("root_glob")
    for smspec in glob.glob(pattern):
        if smspec.endswith(".SMSPEC"):
            unsmry = smspec[: -len(".SMSPEC")] + ".UNSMRY"
            tracer.add("sources.eclbin.bytes_read", os.path.getsize(smspec) + (
                os.path.getsize(unsmry) if os.path.exists(unsmry) else 0))


COUNTERS = {
    "res2df_spark.sources.eclbin": {
        **{n: _bytes_in for n in ("grid_geometry_pandas", "init_vectors_pandas",
                                  "unrst_vectors_pandas", "summary_long_pandas",
                                  "rft_pandas", "parse_smspec")},
        "summary_long_many": _ensemble_bytes,
        "write_summary": _file_size("sources.eclbin.bytes_written", 0),
    },
    "res2df_spark.sources.deck": {"parse_deck": _records},
    "res2df_spark.sinks.writers": {
        "write_dataframe": _file_size("sinks.bytes_written", 1),
        "write_parquet_with_metadata": _file_size("sinks.bytes_written", 1),
    },
}


def install(tracer: Tracer) -> None:
    """Wrap the engine's public functions.  Imports every engine module
    that any workload touches, so rebinding sees them all."""
    import importlib
    import pkgutil

    importlib.import_module("res2df_spark.case")
    for mod in list(MODULE_LAYERS):
        importlib.import_module(mod)
    for pkg in PACKAGE_LAYERS:
        p = importlib.import_module(pkg)
        for info in pkgutil.iter_modules(p.__path__, pkg + "."):
            importlib.import_module(info.name)

    replace: dict[int, object] = {}
    for modname, module in list(sys.modules.items()):
        layer = MODULE_LAYERS.get(modname) or next(
            (v for k, v in PACKAGE_LAYERS.items() if modname.startswith(k + ".")), None)
        if layer is None:
            continue
        counters = COUNTERS.get(modname, {})
        for attr, fn in list(vars(module).items()):
            if (attr.startswith("_") or attr in SKIP or not inspect.isfunction(fn)
                    or fn.__module__ != modname or inspect.isgeneratorfunction(fn)):
                continue
            short = modname.rsplit(".", 1)[-1]
            name = f"{layer}.{attr}" if layer.endswith(short) else f"{layer}.{short}.{attr}"
            w = _wrap(fn, name, layer, tracer, counters.get(attr))
            replace[id(fn)] = w
    # rebind every reference held by an engine module (or the entry module)
    for modname, module in list(sys.modules.items()):
        if not (modname.startswith("res2df_spark") or modname == "__spark_entry__"):
            continue
        for attr, val in list(vars(module).items()):
            if inspect.isfunction(val) and id(val) in replace:
                setattr(module, attr, replace[id(val)])
    # dict registries (suite.QUERIES) hold function objects too
    for modname in ("res2df_spark.suite", "res2df_spark.suite_ext"):
        for reg in vars(sys.modules[modname]).values():
            if isinstance(reg, dict):
                for k, v in list(reg.items()):
                    if inspect.isfunction(v) and id(v) in replace:
                        reg[k] = replace[id(v)]

    from res2df_spark.case import ResdataCase

    for attr, fn in list(vars(ResdataCase).items()):
        if inspect.isfunction(fn) and not attr.startswith("_"):
            setattr(ResdataCase, attr, _wrap(fn, f"case.{attr}", "case", tracer))

    from pyspark.sql import DataFrameWriter, SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    SparkSession.createDataFrame = _wrap(SparkSession.createDataFrame,
                                         "spark.create_df", "spark", tracer, _rows_in)
    for cls, names in ((DataFrame, ("toPandas", "collect", "count", "first", "take")),
                       (DataFrameWriter, ("save", "parquet", "csv"))):
        for n in names:
            setattr(cls, n, _wrap(getattr(cls, n), f"spark.{n}", "spark", tracer))

