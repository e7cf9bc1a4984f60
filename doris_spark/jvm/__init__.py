"""The engine's JVM side: a Spark session extension, compiled offline.

`src/` holds the Java sources and `doris_spark_ext.jar` the committed
build; `python -m doris_spark.jvm.build` rebuilds it byte for byte.
`session.get_spark` puts the jar on the driver class path and names
`EXTENSION_CLASS` in `spark.sql.extensions`.
"""

from __future__ import annotations

import os

JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "doris_spark_ext.jar")
EXTENSION_CLASS = "dorisspark.BoundedFinalSortExtension"
