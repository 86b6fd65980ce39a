from .relational import RELATIONAL_ORACLES, RELATIONAL_QUERIES  # noqa: F401
from . import relational2  # noqa: F401  (registers into the same dicts)
from . import relational3  # noqa: F401  (registers into the same dicts)
