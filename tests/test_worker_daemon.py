"""The engine's Python-worker daemon: zip archives on the worker's path
are re-read only when they change, and the session's workers run with
that rule."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from distributed_graph_coloring_with_pyspark_spark import worker_daemon


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """After its first read through the hook, an unchanged archive costs
    no directory read on ``importlib.invalidate_caches()`` and still
    serves its modules; a rewritten one is read once more, and its new
    module imports."""
    archive = str(tmp_path / "mods.zip")
    names = [f"wd_mod_{tag}_{tmp_path.name}".replace("-", "_") for tag in "abcd"]
    _write_archive(archive, {n: f"X = {i}\n" for i, n in enumerate(names[:3])})
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    try:
        importlib.import_module(names[0])
        importlib.invalidate_caches()  # the hook's first sight of the archive
        importlib.import_module(names[1])
        before = reads.count(archive)

        for _ in range(3):
            importlib.invalidate_caches()
        assert importlib.import_module(names[2]).X == 2
        assert reads.count(archive) == before

        _write_archive(archive, {n: f"X = {i}\n" for i, n in enumerate(names)})
        importlib.invalidate_caches()
        assert importlib.import_module(names[3]).X == 3
        assert reads.count(archive) == before + 1
    finally:
        for n in names:
            sys.modules.pop(n, None)


def test_session_workers_run_the_engine_daemon(spark):
    """A ``mapInPandas`` task sees ``zipimporter.invalidate_caches`` as
    the engine's function: the session's daemon installed it before it
    forked the worker."""

    def report(batches):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"module": [fn.__module__], "name": [fn.__qualname__]})

    rows = (
        spark.range(1)
        .coalesce(1)
        .mapInPandas(report, "module string, name string")
        .collect()
    )
    assert [(r.module, r.name) for r in rows] == [
        (worker_daemon.__name__, worker_daemon.invalidate_if_changed.__qualname__)
    ]
