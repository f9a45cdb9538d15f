"""light-curve-python-spark: a PySpark-native point-in-time
feature-engineering engine with the capabilities of
light-curve/light-curve-python, re-expressed Spark-first.

Deliberately import-light: executors import submodules directly
(``operators.extract``, ``functions.kernels``, ...), and a heavy package
root would tax every Python worker start.  The reference-shaped
single-curve API lives in ``light_curve_python_spark.compat``.

Every engine UDF imports an engine submodule, so this root loads in each
Spark Python worker on its first task.  There it installs the stdlib-only
stat guard of :mod:`._zipguard`: on CPython < 3.13 the worker would
otherwise re-read ``pyspark.zip`` and the other zips on its path at the
start of every task (~120 ms of CPU each).  Elsewhere it does nothing.
"""

from . import _zipguard

_zipguard.install()

__version__ = "0.5.0"  # round-numbered: bumped per driver round
