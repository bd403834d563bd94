"""The Python daemon imports pyspark from its installed directory
(robokop_build_spark/pyworker.py): the path choice on synthetic sys.path
lists, and where the workers of a get_spark session import pyspark from."""

import os
import subprocess
import sys
import zipfile
from importlib.machinery import PathFinder

import pytest

from robokop_build_spark.pyworker import _version, use_installed_pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _archive(path, version):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
        z.writestr("py4j/__init__.py", "")
    return str(path)


def _installed(root, version, py4j=True):
    os.makedirs(root / "pyspark")
    (root / "pyspark" / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_text(f"__version__: str = '{version}'\n")
    if py4j:
        os.makedirs(root / "py4j")
        (root / "py4j" / "__init__.py").write_text("")
    return str(root)


def _jar(path, spark=True):
    """A jar holding no Python; Spark's own holds PythonUtils."""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
        if spark:
            z.writestr("org/apache/spark/api/python/PythonUtils.class", "")
    return str(path)


def _choose(path):
    """(sys.path after the choice, importer-cache keys left), from a cache
    holding an importer for every entry and one for a package inside each
    archive."""
    cache = {p: object() for p in path}
    cache.update({os.path.join(p, "pyspark"): object() for p in path})
    path = list(path)
    # the import machinery caches a finder for every entry it probes
    saved = dict(sys.path_importer_cache)
    try:
        use_installed_pyspark(path, cache)
    finally:
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved)
    return path, set(cache)


def test_archives_only_leave_path_unchanged(tmp_path):
    path = [str(tmp_path), _archive(tmp_path / "pyspark.zip", "4.1.2"), "/nonexistent"]
    got, cache = _choose(path)
    assert got == path
    assert str(tmp_path / "pyspark.zip") in cache


def test_version_mismatch_leaves_path_unchanged(tmp_path):
    path = [
        _archive(tmp_path / "pyspark.zip", "4.1.2"),
        _jar(tmp_path / "spark-core.jar"),
        _installed(tmp_path / "site", "4.0.0"),
    ]
    got, cache = _choose(path)
    assert got == path
    assert len(cache) == 6


def test_missing_installed_py4j_leaves_path_unchanged(tmp_path):
    path = [
        _archive(tmp_path / "pyspark.zip", "4.1.2"),
        _installed(tmp_path / "site", "4.1.2", py4j=False),
    ]
    assert _choose(path)[0] == path


def test_matching_version_drops_archives_and_their_importers(tmp_path):
    user_zip = tmp_path / "user.zip"
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("mylib/__init__.py", "")
    site = _installed(tmp_path / "site", "4.1.2")
    archive = _archive(tmp_path / "pyspark.zip", "4.1.2")
    jar = _jar(tmp_path / "spark-core.jar")
    other_jar = _jar(tmp_path / "other.jar", spark=False)
    path = [str(tmp_path), archive, jar, other_jar, str(user_zip), "/nonexistent", site]
    got, cache = _choose(path)
    assert got == [str(tmp_path), other_jar, str(user_zip), "/nonexistent", site]
    for gone in (archive, jar):
        assert gone not in cache and os.path.join(gone, "pyspark") not in cache
    assert str(user_zip) in cache and other_jar in cache and site in cache


def _worker_import_source(spark):
    """(pyspark.__file__, zip importers cached) in a Python worker running
    a 1-row mapInArrow."""
    import pyarrow as pa

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        n = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"file": [pyspark.__file__], "zips": [n]})

    row = spark.range(1, numPartitions=1).mapInArrow(probe, "file string, zips long")
    row = row.collect()[0]
    return row["file"], row["zips"]


def _need_installed_pyspark(spark):
    spec = PathFinder.find_spec("pyspark", [p for p in sys.path if os.path.isdir(p)])
    if spec is None or _version(spec) != spark.version:
        pytest.skip(f"no installed pyspark {spark.version} on the path")


def test_worker_imports_installed_pyspark(spark):
    _need_installed_pyspark(spark)
    file, zips = _worker_import_source(spark)
    assert os.path.isfile(file), file  # a module inside an archive is no file
    assert zips == 0


def test_worker_imports_installed_pyspark_outside_the_repo(spark, tmp_path):
    """From a working directory outside the repo, with no PYTHONPATH, the
    daemon module still imports and its workers hold no zip importer."""
    _need_installed_pyspark(spark)
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from robokop_build_spark.session import get_spark\n"
        "from tests.test_pyworker import _worker_import_source\n"
        "s = get_spark(master='local[1]', shuffle_partitions=1,\n"
        "              extra_conf={'spark.driver.memory': '1g'})\n"
        "print('RESULT', *_worker_import_source(s))\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    result = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert result, out.stderr[-2000:]
    _, file, zips = result[0].split(" ")
    assert os.path.isfile(file), file
    assert int(zips) == 0
