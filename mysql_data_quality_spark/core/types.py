"""Core rule / result types.

Mirrors the semantics of the reference's dataclasses
(``src/data_quality/validators/base.py:12-89`` — ValidationSeverity,
ValidationResult incl. the ``pass_rate`` property at base.py:36-41, and
ValidationRule) but re-keyed for a distributed engine: a Rule optionally
carries a *compiled form* (a function producing a pyspark Column "hit"
predicate) so that every enabled rule contributes to ONE DataFrame plan
instead of a per-validator pandas pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from enum import Enum
from typing import Any, Callable, Dict, Optional


class Severity(str, Enum):
    """Severity levels — verbatim from the reference enum
    (``validators/base.py:12-18``).  CRITICAL/ERROR rules drop documents;
    WARNING/INFO only annotate (SURVEY.md §7.1).
    """

    INFO = "INFO"
    WARNING = "WARNING"
    ERROR = "ERROR"
    CRITICAL = "CRITICAL"


#: severities whose per-document hit forces keep=false
DROP_SEVERITIES = (Severity.ERROR, Severity.CRITICAL)

#: ranking used for top-issue ordering (reference summary_report.py:98-124)
SEVERITY_PRIORITY = {
    Severity.CRITICAL: 0,
    Severity.ERROR: 1,
    Severity.WARNING: 2,
    Severity.INFO: 3,
}


@dataclass
class Rule:
    """A parameterized validation rule (reference ``ValidationRule``,
    base.py:77-89) plus the Spark compilation hook.

    ``compile`` — when present — is ``(df_cols: dict[str, Column], params)
    -> Column`` returning a BOOLEAN **hit** column (True = the row violates /
    matches the rule).  Rules without a compiled form are table-level
    (aggregate) rules evaluated by their validator family.
    """

    name: str
    description: str
    severity: Severity
    enabled: bool = True
    parameters: Dict[str, Any] = field(default_factory=dict)
    family: str = ""
    compile: Optional[Callable[..., Any]] = None

    def __post_init__(self) -> None:
        if self.parameters is None:
            self.parameters = {}


@dataclass
class RuleResult:
    """Per-run metric row — field-compatible with the reference's
    ``ValidationResult`` (base.py:21-41), including the derived ``pass_rate``
    (base.py:36-41: 100.0 when total_rows == 0).
    """

    rule_name: str
    table_name: str
    column_name: Optional[str]
    severity: Severity
    passed: bool
    message: str
    details: Dict[str, Any]
    timestamp: datetime = field(
        default_factory=lambda: datetime.now(timezone.utc)
    )
    affected_rows: int = 0
    total_rows: int = 0

    @property
    def pass_rate(self) -> float:
        if self.total_rows == 0:
            return 100.0
        return ((self.total_rows - self.affected_rows) / self.total_rows) * 100.0

    def to_dict(self) -> Dict[str, Any]:
        """JSON-safe dict (reference base.py:43-74; Spark results are native
        Python already so no numpy coercion is needed)."""
        return {
            "rule_name": self.rule_name,
            "table_name": self.table_name,
            "column_name": self.column_name,
            "severity": self.severity.value,
            "passed": bool(self.passed),
            "message": self.message,
            "details": _json_safe(self.details),
            "timestamp": self.timestamp.isoformat(),
            "affected_rows": int(self.affected_rows),
            "total_rows": int(self.total_rows),
            "pass_rate": float(self.pass_rate),
        }


def _json_safe(value: Any) -> Any:
    """Coerce numpy scalars / datetimes / bytes / tuples for JSON
    (reference base.py:46-60, extended for Spark row values)."""
    if isinstance(value, datetime):
        return value.isoformat()
    if isinstance(value, bytes):
        return value.hex()
    if hasattr(value, "isoformat"):  # date
        return value.isoformat()
    if hasattr(value, "item") and not isinstance(value, (str, bytes)):
        try:
            return value.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(value, dict):
        return {k: _json_safe(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_json_safe(v) for v in value]
    return value

