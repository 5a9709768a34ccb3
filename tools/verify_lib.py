"""Re-export of the oracle check for perfbench/run.py; everything else
imports hive_ddl_extract_tool_spark.verify directly."""
from hive_ddl_extract_tool_spark.verify import canon, compare, hash_rows, register_views

__all__ = ["canon", "compare", "hash_rows", "register_views"]
