from pyspark.sql import SparkSession

from .compat import FUNCTION_RENAMES, register_compat_functions, translate_sql
from .json_udfs import register_udfs
from .udafs import register_udafs
from .udtfs import register_udtfs

__all__ = [
    "register_udfs",
    "register_compat_functions",
    "register_udafs",
    "register_udtfs",
    "register_function_pack",
    "translate_sql",
    "FUNCTION_RENAMES",
]

# sessionUUID of every session the whole pack is registered on
_REGISTERED: set[str] = set()


def register_function_pack(spark: SparkSession) -> None:
    """Register the UDFs, SQL functions, UDTFs and UDAFs on ``spark``,
    once per session.

    Temporary functions belong to one session (``newSession()`` starts
    without them), so the key is the JVM session's UUID.  Registering
    again on a warm session costs a SQL execution per SQL function and
    a round trip per Python function; the ``register_*`` functions stay
    unmemoized for callers that want exactly that.  Two threads' first
    calls may both register; every registration is idempotent."""
    key = spark._jsparkSession.sessionUUID()
    if key in _REGISTERED:
        return
    register_udfs(spark)
    register_compat_functions(spark)
    register_udtfs(spark)
    register_udafs(spark)
    _REGISTERED.add(key)
