"""fakepilot_spark — a from-scratch PySpark-native web-extraction + crawl engine.

Capabilities mirror the `phoenixsite/fakepilot` reference (HTML → company /
review extraction, byte-identical per URL) re-architected for Spark: Arrow
pandas UDF extraction over Common-Crawl-style `pages` tables, a salted
host-prefix-partitioned URL frontier with bloom/cuckoo URL-seen sketches,
broadcast robots/politeness dimensions, and resumable epoch checkpoints.
"""

from . import pyworker

__version__ = "0.1.0"

pyworker.install()
