"""The Python worker daemon (``kaj_query_engine_spark.worker_daemon``):
workers import the installed pyspark instead of Spark's zip, the path
decision keeps the zips whenever dropping them could change what a
worker imports, the package imports without pyspark, and a driver
started from another directory still reaches the package's UDFs."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

from kaj_query_engine_spark.worker_daemon import spark_archives

REPO = Path(__file__).resolve().parent.parent


def test_workers_import_the_drivers_pyspark(spark):
    import pyspark

    # nested, so it is pickled by value: workers cannot import this file
    def _worker_state(it):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        archives = sorted({
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        })
        for _ in it:
            yield pd.DataFrame({
                "pid": [os.getpid()],
                "pyspark": [pyspark.__file__],
                "zips": ["|".join(archives)],
            })

    df = spark.range(4).repartition(4)
    schema = "pid long, pyspark string, zips string"
    first = df.mapInPandas(_worker_state, schema).collect()
    second = df.mapInPandas(_worker_state, schema).collect()
    assert {r.pyspark for r in first + second} == {pyspark.__file__}
    assert ".zip" not in pyspark.__file__
    home = os.path.realpath(os.environ.get("SPARK_HOME", "/nonexistent"))
    for r in first + second:
        spark_zips = [
            z for z in r.zips.split("|")
            if z and os.path.realpath(z).startswith(home + os.sep)
        ]
        assert spark_zips == [], spark_zips
    # the daemon still forks reusable workers
    assert {r.pid for r in first} & {r.pid for r in second}


def _spark_home(tmp_path):
    """A fake SPARK_HOME with Spark's two zips and a jar."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    (tmp_path / "spark" / "jars").mkdir()
    (tmp_path / "spark" / "jars" / "spark-core.jar").write_bytes(b"")
    for name, ver, zname in (
        ("pyspark", "4.1.2", "pyspark.zip"),
        ("py4j", "0.10.9.9", "py4j-0.10.9.9-src.zip"),
    ):
        with zipfile.ZipFile(lib / zname, "w") as zf:
            zf.writestr(f"{name}/__init__.py", "")
            zf.writestr(f"{name}/version.py", f"__version__ = '{ver}'\n")
    return tmp_path / "spark"


def _site(tmp_path, name, packages):
    site = tmp_path / name
    for pkg, ver in packages.items():
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_text(f"__version__ = '{ver}'\n")
    return site


def test_spark_archives_path_decision(tmp_path):
    home = _spark_home(tmp_path)
    lib = home / "python" / "lib"
    zips = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")]
    jar = str(home / "jars" / "spark-core.jar")
    user_zip = tmp_path / "deps.zip"
    with zipfile.ZipFile(user_zip, "w") as zf:
        zf.writestr("deps/__init__.py", "")
    user_jar = tmp_path / "udfs.jar"
    user_jar.write_bytes(b"")
    match = _site(tmp_path, "match", {"pyspark": "4.1.2", "py4j": "0.10.9.9"})
    path = [str(tmp_path), str(user_zip), str(user_jar), *zips, jar, str(match)]

    # same versions: Spark's zips and jar go; a --py-files zip and a
    # jar outside SPARK_HOME stay
    assert spark_archives(path, str(home)) == [*zips, jar]
    # a symlinked SPARK_HOME names the same archives
    link = tmp_path / "spark-link"
    link.symlink_to(home)
    assert spark_archives(path, str(link)) == [*zips, jar]
    # no SPARK_HOME, or only one of the two zips: nothing is dropped
    assert spark_archives(path, None) == []
    assert spark_archives([p for p in path if p != zips[1]], str(home)) == []
    # a pyspark or a py4j of another version: keep the zips
    newer = _site(tmp_path, "newer", {"pyspark": "4.1.3", "py4j": "0.10.9.9"})
    assert spark_archives([*path[:-1], str(newer)], str(home)) == []
    old = _site(tmp_path, "old", {"pyspark": "4.1.2", "py4j": "0.10.9.7"})
    assert spark_archives([*path[:-1], str(old)], str(home)) == []
    # no installed pyspark at all: keep the zips
    bare = _site(tmp_path, "bare", {"py4j": "0.10.9.9"})
    assert spark_archives([*path[:-1], str(bare)], str(home)) == []
    # an installed pyspark only inside a user zip is not an unzipped copy
    zipped = tmp_path / "zipped.zip"
    with zipfile.ZipFile(zipped, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", "__version__ = '4.1.2'\n")
    assert spark_archives([*path[:-1], str(zipped), str(bare)], str(home)) == []


def test_package_import_is_lazy():
    code = textwrap.dedent(
        """
        import sys
        import kaj_query_engine_spark
        assert "pyspark" not in sys.modules, "pyspark imported eagerly"
        from kaj_query_engine_spark import KajEngine, VersionedTable, get_spark
        assert callable(get_spark) and KajEngine.__name__ == "KajEngine"
        assert VersionedTable.__name__ == "VersionedTable"
        print("ok")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=str(REPO),
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_codec_udfs_run_from_a_driver_outside_the_repo(tmp_path):
    """A driver whose cwd is not the repository, which finds the package
    through ``sys.path`` (as bench.py does), still runs the package's
    codec UDFs: its workers get the package root from ``get_spark``."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(
        f"""
        import hashlib
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from kaj_query_engine_spark import get_spark
        from kaj_query_engine_spark.operators import multimodal as M

        spark = get_spark("cwd-check", master="local[2]", shuffle_partitions=2,
                          extra_conf={{"spark.driver.memory": "1g"}})
        df = spark.createDataFrame([(3,), (7,)], "doc_id long")
        rows = M.decode_media(M.attach_png_media(df, "doc_id")).collect()
        for r in rows:
            d = r.doc_id
            w, h = 16 + (d % 4) * 4, 12 + (d % 3) * 6
            want = b"".join(
                hashlib.sha256(f"{{d}}:r{{i}}".encode()).digest()[:w]
                for i in range(h)
            )
            assert (r.width, r.height) == (w, h) and bytes(r.pixels) == want
        print(sorted(r.doc_id for r in rows))
        spark.stop()
        """
    ))
    env = dict(os.environ)
    # the driver must not inherit a PYTHONPATH that already names the repo
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != REPO
    )
    out = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[3, 7]"
