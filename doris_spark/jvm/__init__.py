"""The engine's JVM side: a Spark session extension, compiled offline.

`src/` holds the Java sources and `doris_spark_ext.jar` the committed
build; `python -m doris_spark.jvm.build` rebuilds it byte for byte.
`EXTENSION_CLASS` injects every rule of the jar. `session.prepare_session`
is the one path that loads it: it adds the jar to a running session
(`ADD JAR`) and derives the engine's session with the extension applied,
so a session built by any caller gets the same rules.
"""

from __future__ import annotations

import os

JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "doris_spark_ext.jar")
EXTENSION_CLASS = "dorisspark.DorisExtension"
# A rule the extension injects, found by class name in a session's rules.
RULE_MARKER = "dorisspark.BoundedFinalSort"
