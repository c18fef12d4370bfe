"""Declared query registry (package form).

One module per operator family registers its queries on import:
``relational``, ``temporal``, ``text``, ``dedup``, ``graph``,
``similarity``, ``multimodal``, ``analytics``, ``ml``, ``sqlintake``,
``jobapi``, ``sources`` and ``streaming``. ``core`` holds ``QuerySpec``,
the registration guards and the SQL fragments two or more families
share. Registration order is this import order, then declaration order
inside each module; query semantics do not depend on it. The name set
is machine-checked by tests/test_survey_registry_sync.py and the full
oracle sweep.
"""

from __future__ import annotations

from . import (  # noqa: F401  (each family registers on import)
    relational,
    temporal,
    text,
    dedup,
    graph,
    similarity,
    multimodal,
    analytics,
    ml,
    sqlintake,
    jobapi,
    sources,
    streaming,
)
from .core import QuerySpec, oracle_sql, queries, registry  # noqa: F401
