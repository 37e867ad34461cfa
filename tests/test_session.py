"""The runtime of an engine session: workers run the installed pyspark
through ``zvdb_spark._daemon``, not ``$SPARK_HOME``'s archives, and
still show up as ``pyspark.daemon`` processes; Column calls capture
no call site, and analysis errors still name what failed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark
import pytest

from zvdb_spark._daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _descendant_cmdlines(root: int) -> list[str]:
    kids: dict[int, list[int]] = {}
    cmd: dict[int, str] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd[int(p)] = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(cmd[c])
            todo.append(c)
    return out


def _in_archive(path: str, spark_home: str) -> bool:
    home = os.path.realpath(spark_home) + os.sep
    while path and not os.path.exists(path):
        path = os.path.dirname(path)
    return os.path.isfile(path) and os.path.realpath(path).startswith(home)


def test_workers_run_the_installed_pyspark(spark):
    # nested, so it ships by value: workers cannot import test modules
    def _worker_runtime(it):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in it:
            pass
        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pd.DataFrame({
            "version": [pyspark.__version__],
            "file": [pyspark.__file__],
            "spark_home": [os.environ.get("SPARK_HOME", "")],
            "zips": [json.dumps(zips)],
        })

    rows = (
        spark.range(4).repartition(4)
        .mapInPandas(
            _worker_runtime,
            "version string, file string, spark_home string, zips string",
        )
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.version == pyspark.__version__
        assert r.spark_home, "workers see no SPARK_HOME"
        assert not _in_archive(r.file, r.spark_home), r.file
        held = [z for z in json.loads(r.zips) if _in_archive(z, r.spark_home)]
        assert held == [], held
    # the match perfbench/spans.py:worker_cpu_s uses for worker CPU
    cmds = _descendant_cmdlines(os.getpid())
    assert any(
        "pyspark.daemon" in c or "pyspark/daemon" in c for c in cmds
    ), cmds


def test_worker_path_drops_only_spark_home_archives(tmp_path):
    real = tmp_path / "spark-4.1.2"
    (real / "python" / "lib").mkdir(parents=True)
    (real / "jars").mkdir()
    home = tmp_path / "spark"
    home.symlink_to(real)
    pyspark_zip = str(home / "python" / "lib" / "pyspark.zip")
    py4j_zip = str(home / "python" / "lib" / "py4j-0.10.9.9-src.zip")
    # the JVM names the jar through the resolved home
    core_jar = str(real / "jars" / "spark-core_2.13-4.1.2.jar")
    home_dir = str(home / "python")
    for f in (pyspark_zip, py4j_zip, core_jar):
        open(f, "wb").close()
    user_zip = str(tmp_path / "deps.zip")
    open(user_zip, "wb").close()
    user_dir = str(tmp_path / "src")
    os.mkdir(user_dir)

    entries = [pyspark_zip, user_zip, py4j_zip, core_jar, user_dir, home_dir]
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    assert worker_path(entries, str(home), [REPO, *entries, site]) == [
        user_zip, user_dir, home_dir,
    ]
    # pyspark only inside the archives: the path stays as the JVM built it
    assert worker_path(entries, str(home), [REPO, *entries]) == entries
    assert worker_path(entries, None, [REPO, *entries, site]) == entries


_CHILD_SRC = """
import json, sys
sys.path.insert(0, sys.argv[1])
from zvdb_spark import get_session


def runtime(it):
    import pandas as pd
    import pyspark

    for _ in it:
        pass
    yield pd.DataFrame({"file": [pyspark.__file__]})


spark = get_session("outside_repo_child", cpus=2)
rows = spark.range(4).repartition(2).mapInPandas(runtime, "file string").collect()
with open(sys.argv[2], "w") as f:
    json.dump([r.file for r in rows], f)
spark.stop()
"""


def test_workers_find_the_engine_from_outside_the_repo(tmp_path):
    """A driver started outside the repo, with the engine only on its
    ``sys.path``, still gets working Python tasks: the daemon stub is
    found through the session's ``spark.executorEnv.PYTHONPATH``."""
    child = tmp_path / "child.py"
    child.write_text(_CHILD_SRC)
    out = tmp_path / "out.json"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    r = subprocess.run(
        [sys.executable, str(child), REPO, str(out)],
        cwd=tmp_path, capture_output=True, text=True, timeout=300, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    files = json.load(open(out))
    assert len(files) == 2
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        assert not any(_in_archive(f, spark_home) for f in files), files


def test_import_is_pyspark_free():
    code = (
        "import sys, zvdb_spark\n"
        "assert 'pyspark' not in sys.modules, sorted(sys.modules)\n"
        "from zvdb_spark.session import get_session\n"
        "assert zvdb_spark.get_session is get_session\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-3000:]


def test_call_site_capture_is_off_and_errors_keep_their_class(spark):
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException) as err:
        spark.range(3).select("no_such_col").schema
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN"), err.value
    assert "no_such_col" in str(err.value)
