"""trajlib_spark — a from-scratch PySpark-native spatial-join + tiling
engine with the query/data-processing capabilities of neumyor/TrajLib,
re-expressed as DataFrame/Catalyst plans over web-scale page tables.
"""

from trajlib_spark import _pyworker

__version__ = "0.1.0"

# every engine UDF unpickles through a trajlib_spark module, so a Python
# worker's later tasks skip re-reading unchanged zip directories
_pyworker.install()
