#!/bin/sh
# Python-worker launcher that strips zip/jar entries from PYTHONPATH.
#
# Why: Spark prepends $SPARK_HOME/python/lib/pyspark.zip (and, through the
# inherited environment, JVM jars) to every Python worker's PYTHONPATH. On
# CPython 3.11, importlib.invalidate_caches() — which pyspark's worker calls
# once per task in setup_spark_files — eagerly re-parses the zip table of
# contents of EVERY cached zipimporter (one per zip/jar path entry AND one
# per package subpath inside each zip: measured ~15 finders x 4-38 ms =
# ~150 ms of pure overhead per Python task, the dominant fixed floor of
# every applyInPandas/mapInArrow stage at high core counts). CPython 3.12+
# made that invalidation lazy; until then, dropping the archive entries from
# the worker path makes invalidate_caches O(#finders) cheap. The worker then
# imports the pip-installed pyspark (version-identical to the JVM) from
# site-packages, exactly as the driver process does.
#
# Used as spark.pyspark.python by geopull_spark.session.get_spark, which sets
# GEOPULL_BASE_PYTHON (the configured PYSPARK_PYTHON, else the driver's own
# interpreter) and engages this wrapper only when the driver imports pyspark
# from outside an archive: with pyspark served from SPARK_HOME's pyspark.zip
# alone, stripping the zip would leave workers unable to import it (opt-out:
# GEOPULL_WORKER_PYTHON=python). Pure POSIX sh; no external dependencies.
_stripped=""
_old_ifs="$IFS"
IFS=":"
for _p in $PYTHONPATH; do
    case "$_p" in
        *.zip|*.jar|*.egg) ;;
        "") ;;
        *) _stripped="${_stripped:+$_stripped:}$_p" ;;
    esac
done
IFS="$_old_ifs"
PYTHONPATH="$_stripped"
export PYTHONPATH
exec "${GEOPULL_BASE_PYTHON:-python}" "$@"
