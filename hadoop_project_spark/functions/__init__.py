"""Scalar/column function library (SURVEY.md §2.7).

Everything here is a *Column expression builder* — JVM-side, codegen'd,
no Python UDFs — so whole-stage codegen spans stay wide.
"""

from hadoop_project_spark.functions.numeric import dec2  # noqa: F401
from hadoop_project_spark.functions.text import (  # noqa: F401
    tokenize,
    word_shingles,
)
from hadoop_project_spark.functions.vector import (  # noqa: F401
    dot,
    l2_norm,
    squared_l2_distance,
)
