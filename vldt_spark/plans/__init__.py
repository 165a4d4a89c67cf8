"""Partition machinery: checkpoint/resume ledger (B13), skew mitigation
(B14), spark-submit job entrypoint."""

from vldt_spark.plans.ledger import ValidationLedger
from vldt_spark.plans.skew import aqe_skew_conf

__all__ = ["ValidationLedger", "aqe_skew_conf"]
