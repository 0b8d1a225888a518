"""Scalar function surface (SURVEY.md §2.8).

Nearly all of the reference's string/datetime/math library maps 1:1 onto
`pyspark.sql.functions` and stays JVM-side (whole-stage codegen). This
package holds only the genuine gaps, each registered as a SQL function so
both the DataFrame API and `engine.sql` can reach it.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from heavydb_spark.functions.strings import register_string_functions
from heavydb_spark.functions.arrays import register_array_functions
from heavydb_spark.functions.geo import register_geo_functions
from heavydb_spark.functions.geos import register_geos_functions
from heavydb_spark.functions.render import register_render_functions
from heavydb_spark.functions.h3 import register_h3_functions


# Registration is idempotent but NOT free. Seconds per family on a
# 4-core VM (local[2], quick JIT only), cold (first in the JVM) / warm
# (again in the same JVM): geo 6.6 / 2.4, strings 2.3 / 0.05, h3
# 2.3 / 0.4, render 2.1 / 0.3, arrays + geos 0.4 / 0.1; 14 s cold, most
# of it the parser's and analyzer's first use, 3.3 s warm. Every
# Engine() construction calls register_all — memoize per live session.
# Weak-keyed so stopped sessions stay garbage-collectable (id() reuse
# is a non-issue: the entry dies with the session).
import weakref  # noqa: E402

_REGISTERED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def register_all(spark: SparkSession) -> None:
    try:
        if spark in _REGISTERED:
            return
    except TypeError:  # not weak-referenceable: register every time
        pass
    register_string_functions(spark)
    register_array_functions(spark)
    # geos first: geo's st_intersects SQL body calls st_intersection
    register_geos_functions(spark)
    register_geo_functions(spark)
    register_render_functions(spark)
    register_h3_functions(spark)
    try:
        _REGISTERED.add(spark)
    except TypeError:
        pass


def _call(name: str, *args) -> Column:
    """Call a function `register_all` registers, so its arguments are
    bound once and its body stays codegen'd. The Column builders of the
    H3 and transform families all build through here. Registers on
    `SparkSession.active()` first (memoized per session); a Column used
    on another session needs `register_all(that_session)`, which
    `Engine(session)` already does. Spark cannot pass a lambda variable
    to a SQL function, so these Columns do not resolve inside a
    higher-order function's lambda (`F.transform` over a ring): apply
    them to a column, e.g. after an explode."""
    register_all(SparkSession.active())
    return F.call_function(name, *args)


def single_value(col):
    """SINGLE_VALUE aggregate (sqldefs.h:85): the group's value, erroring
    if the group holds more than one distinct value — the runtime check
    the reference's planner inserts under scalar subqueries. JVM-side:
    raise_error fires inside codegen, no UDF."""
    return F.when(
        F.count_distinct(col) > 1,
        F.raise_error(F.lit("more than one row returned by SINGLE_VALUE")),
    ).otherwise(F.first(col, ignorenulls=True))


from heavydb_spark.functions.udaf import geometric_mean  # noqa: F401,E402
