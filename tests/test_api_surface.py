"""One kernel per operator: no public function of the package lets a
caller pick an implementation or a mode.  Where an operator has two
kernels, the code picks between them from a fact it observes (such as
the input size); a switch left to the caller doubles the paths tests
and benchmarks must cover.  Spark-free: importing a module starts no
session."""

import glob
import importlib
import inspect
import os
import pkgutil

import cloud_native_medical_data_etl_pipeline_spark as pkg

_SWITCH_NAMES = {
    "engine",
    "impl",
    "shingle_mode",
    "verify",
    "hash_fn",
    "chunk_cap",
    "allow_driver_gather",
    "max_gather_rows",
    "planes",
}


def _is_switch(name: str) -> bool:
    return name in _SWITCH_NAMES or name.endswith("_impl")


def test_no_public_function_takes_an_implementation_switch():
    modules = [
        importlib.import_module(info.name)
        for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
    ]
    # the walk reaches every operator module
    ops_dir = os.path.join(pkg.__path__[0], "operators")
    want = {
        f"{pkg.__name__}.operators.{os.path.basename(p)[:-3]}"
        for p in glob.glob(os.path.join(ops_dir, "[!_]*.py"))
    }
    assert want and want <= {m.__name__ for m in modules}
    found = sorted(
        f"{mod.__name__}.{name}({param})"
        for mod in modules
        for name, fn in inspect.getmembers(mod, inspect.isfunction)
        if not name.startswith("_") and fn.__module__ == mod.__name__
        for param in inspect.signature(fn).parameters
        if _is_switch(param)
    )
    assert not found, f"implementation switches: {found}"
