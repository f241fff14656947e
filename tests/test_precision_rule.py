"""The output-precision rule is stated once (``functions.NDIGITS``), not
tuned per operator: no function of the engine takes a precision
parameter, except ``round_to`` on the two PageRank kernels, whose
``round_to=None`` returns the raw power iteration that tests compare
at 1e-12."""

import importlib
import inspect
import pkgutil

import backend_spark

_PRECISION_PARAMS = {"ndigits", "round_to", "ndigits_km"}
_ALLOWED = {
    ("backend_spark.operators.graph", "pagerank", "round_to"),
    ("backend_spark.operators.graph", "personalized_pagerank", "round_to"),
}


def _functions():
    for info in pkgutil.walk_packages(backend_spark.__path__, "backend_spark."):
        module = importlib.import_module(info.name)
        for name, f in inspect.getmembers(module, inspect.isfunction):
            if f.__module__ == module.__name__:
                yield module.__name__, name, f


def test_no_precision_parameters():
    found = {
        (mod, name, p)
        for mod, name, f in _functions()
        for p in inspect.signature(f).parameters
        if p in _PRECISION_PARAMS
    }
    assert found == _ALLOWED


def test_precision_constant():
    from backend_spark import functions as fn
    from backend_spark.operators.graph import pagerank, personalized_pagerank

    assert fn.NDIGITS == 6
    for f in (pagerank, personalized_pagerank):
        assert inspect.signature(f).parameters["round_to"].default == fn.NDIGITS
