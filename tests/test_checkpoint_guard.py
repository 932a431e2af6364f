"""Guard: the engine checkpoints only through
operators.checkpointing.checkpoint and leaves pyspark unpatched. Needs
no Spark session."""

from __future__ import annotations

import importlib
import pathlib
import pkgutil

import wedge_parallel_triangle_counting_spark as pkg

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "wedge_parallel_triangle_counting_spark"
HELPER = PKG / "operators" / "checkpointing.py"


def test_localcheckpoint_called_only_in_helper():
    sources = [*PKG.rglob("*.py"), REPO / "__spark_entry__.py"]
    offenders = [
        f"{path.relative_to(REPO)}:{n}"
        for path in sources
        if path != HELPER
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert not offenders, offenders


def test_import_leaves_pyspark_dataframe_unpatched():
    for mod in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        importlib.import_module(mod.name)
    import pyspark
    from pyspark.sql import DataFrame
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    pyspark_dir = pathlib.Path(pyspark.__file__).parent
    for cls in (DataFrame, ClassicDataFrame):
        fn = cls.__dict__["localCheckpoint"]
        assert fn.__module__.startswith("pyspark."), (cls, fn.__module__)
        assert pathlib.Path(fn.__code__.co_filename).is_relative_to(pyspark_dir)
