"""graphzeppelin_spark — a from-scratch PySpark-native link-graph analytics engine.

Query capabilities mirror GraphStreamingProject/GraphZeppelin (reference read at
/root/reference, see SURVEY.md): connected components over dynamic (insert+delete)
edge streams — both an exact DataFrame path and a GraphZeppelin-style
l0-sampling/CubeSketch path re-expressed as vectorized Arrow UDF partition
aggregates with Boruvka-style sketch merges — plus PageRank, label propagation,
triangle counting, spanning forests and point queries, and the web-scale
front-end (href extraction from a Common-Crawl-style pages table) and
training-data pipeline operators (dedup, similarity search, text analysis).

Architecture is Spark-first: DataFrame/SQL logical plans optimized by Catalyst,
with numpy-vectorized pandas/Arrow UDFs only for the sketch algebra that Spark
cannot express natively. Nothing is ported from the reference's C++ engine.
"""

__version__ = "0.2.0"

from graphzeppelin_spark.config import SketchConfig  # noqa: F401
from graphzeppelin_spark.session import aqe_off, get_spark, skip_unchanged_zip_rereads  # noqa: F401

# every Python worker imports the package when it unpickles one of its UDFs
skip_unchanged_zip_rereads()
