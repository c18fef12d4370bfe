"""Declared query registry (package form).

One module per operator family registers its queries on import. The
import order below fixes the registration order inside each
``priority`` tier (``priority`` then re-sorts the whole registry by
driver-record staleness); query semantics do not depend on it, and
the name set is machine-checked by tests/test_survey_registry_sync.py
and the full oracle sweep.
"""

from __future__ import annotations

from .core import (  # noqa: F401
    QuerySpec,
    _REGISTRY,
    oracle_sql,
    queries,
    registry,
)

# family modules register on import, in this order; the priority
# module then re-sorts by driver-record staleness. The round-numbered
# modules keep their historical place; every graph_* query lives in
# graph.
from . import relational as _relational  # noqa: F401,E402
from . import temporal as _temporal  # noqa: F401,E402
from . import text as _text  # noqa: F401,E402
from . import dedup as _dedup  # noqa: F401,E402
from . import graph as _graph  # noqa: F401,E402
from . import similarity as _similarity  # noqa: F401,E402
from . import multimodal as _multimodal  # noqa: F401,E402
from . import sqlintake as _sqlintake  # noqa: F401,E402
from . import jobapi as _jobapi  # noqa: F401,E402
from . import streaming as _streaming  # noqa: F401,E402
from . import mixed as _mixed  # noqa: F401,E402
from . import ml as _ml  # noqa: F401,E402
from . import closers as _closers  # noqa: F401,E402
from . import round9 as _round9  # noqa: F401,E402
from . import round9b as _round9b  # noqa: F401,E402
from . import round10 as _round10  # noqa: F401,E402
from . import round11 as _round11  # noqa: F401,E402
from . import round12 as _round12  # noqa: F401,E402
from . import priority as _priority  # noqa: F401,E402

# names tests and tooling import from the old flat module
from .closers import _ULM_MAXLEN  # noqa: F401,E402
from .graph import _copurchase_pairs  # noqa: F401,E402
from .priority import _record_staleness  # noqa: F401,E402
