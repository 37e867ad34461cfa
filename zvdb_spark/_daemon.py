"""Python worker daemon entry point for engine sessions
(``spark.python.daemon.module``, set in ``session.get_session``).

The JVM starts each worker daemon with ``$SPARK_HOME``'s
``pyspark.zip``, py4j zip and spark-core jar at the front of
``PYTHONPATH``. Every task then runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which makes each of those
archives' importers re-read its zip directory. This stub drops the
archives and execs ``pyspark.daemon`` against the installed pyspark
instead. The exec keeps the pid, the stdout pipe the JVM reads the
daemon port from, and the ``-m pyspark.daemon`` command line.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def worker_path(
    entries: list[str], spark_home: str | None, search_path: list[str]
) -> list[str]:
    """``entries`` without the files under ``spark_home``, or ``entries``
    unchanged when ``pyspark`` or ``py4j`` is not found on what remains
    of ``search_path`` (the interpreter's ``sys.path``)."""
    if not spark_home:
        return entries
    home = os.path.realpath(spark_home) + os.sep

    def archive(p: str) -> bool:
        return os.path.isfile(p) and os.path.realpath(p).startswith(home)

    rest = [p for p in search_path if not archive(p)]
    if any(PathFinder.find_spec(m, rest) is None for m in ("pyspark", "py4j")):
        return entries
    return [p for p in entries if not archive(p)]


def main() -> None:
    env = dict(os.environ)
    entries = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    kept = worker_path(entries, env.get("SPARK_HOME"), sys.path)
    if kept != entries:
        env["PYTHONPATH"] = os.pathsep.join(kept)
    argv = [sys.executable, "-m", "pyspark.daemon", *sys.argv[1:]]
    os.execve(sys.executable, argv, env)


if __name__ == "__main__":
    main()
