"""vldt_spark — a from-scratch PySpark-native schema + constraint validation engine.

Re-expresses the semantics of roman-right/vldt (annotated-dataclass
validation, one object at a time — see /root/reference) as distributed
DataFrame passes: one model class ≙ one table schema + constraint set;
``Model(**row)`` ≙ one row of a fused ``df.select`` validation pass;
``TypeError`` with a field→message JSON map ≙ violation rows carrying
``doc_id`` + failed-constraint lineage; "no exception" ≙ a per-partition
pass verdict.

All predicate evaluation is native Spark SQL expressions or vectorized
pandas/Arrow UDFs — never per-row Python.
"""

from vldt_spark import zip_invalidate_guard

zip_invalidate_guard.install()

from vldt_spark.fields import Field, UNDEFINED
from vldt_spark.model import Model, ModelConfig
from vldt_spark.validators import field_validator, model_validator, check
from vldt_spark.engine import ValidationEngine, ValidationResult, validate
from vldt_spark.plans.ledger import ValidationLedger

__all__ = [
    "Field",
    "UNDEFINED",
    "Model",
    "ModelConfig",
    "field_validator",
    "model_validator",
    "check",
    "ValidationEngine",
    "ValidationResult",
    "validate",
    "ValidationLedger",
]

__version__ = "0.1.0"
