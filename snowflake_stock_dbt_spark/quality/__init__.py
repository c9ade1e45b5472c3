from .checks import (
    CheckResult,
    accepted_range,
    check_model,
    not_null,
    relationships,
    run_checks,
    unique,
)

__all__ = [
    "CheckResult",
    "accepted_range",
    "check_model",
    "not_null",
    "relationships",
    "run_checks",
    "unique",
]
