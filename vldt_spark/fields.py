"""Field descriptors: defaults, aliases, declarative constraints.

Reference parity: ``vldt.Field(default=, default_factory=, alias=)``
(/root/reference/vldt/fields.py:10-43): default/default_factory mutually
exclusive, scalar alias normalized to a list, alias keys probed before the
canonical name with first-alias-wins precedence
(/root/reference/src/data_model.cpp:172-190).

Spark extension: Field also carries declarative column constraints
(ge/le/gt/lt, regex, isin, unique, not_null, element range) that compile
to native Catalyst expressions (SURVEY.md B9) — in the reference these
would be hand-written ``@field_validator`` functions.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence


class _Undefined:
    """Sentinel for 'no default supplied' (reference: VLDTUndefined,
    /root/reference/src/init_globals.cpp:154-231)."""

    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:  # pragma: no cover
        return "UNDEFINED"

    def __bool__(self) -> bool:
        return False


UNDEFINED = _Undefined()


class Field:
    """Per-field schema options + declarative constraints."""

    def __init__(
        self,
        default: Any = UNDEFINED,
        default_factory: Callable[[], Any] | None = None,
        alias: str | Sequence[str] | None = None,
        *,
        default_expr: Callable[[], Any] | None = None,
        ge: Any = None,
        gt: Any = None,
        le: Any = None,
        lt: Any = None,
        regex: str | None = None,
        isin: Sequence[Any] | None = None,
        unique: bool = False,
        not_null: bool = False,
        element_ge: Any = None,
        element_le: Any = None,
        min_size: int | None = None,
        max_size: int | None = None,
        ref: tuple[str, str] | None = None,
    ) -> None:
        if default is not UNDEFINED and default_factory is not None:
            # reference: /root/reference/vldt/fields.py:23-24
            raise ValueError("cannot specify both default and default_factory")
        if default_expr is not None and (
            default is not UNDEFINED or default_factory is not None
        ):
            raise ValueError("default_expr excludes default/default_factory")
        self.default = default
        self.default_factory = default_factory
        # PER-ROW expression default: the reference's default_factory makes
        # a fresh value per instance (random session ids,
        # tests/test_fields.py:83-102) — a driver-side scalar cannot.
        # default_expr is a zero-arg factory returning a Column evaluated
        # per row; make it DETERMINISTIC (seed from row content, e.g.
        # sha2 of the id column) so retries/resume reproduce the same value
        # (SURVEY.md §7 hard part 4 — documented deviation from RNG).
        self.default_expr = default_expr
        if alias is None:
            self.aliases: list[str] = []
        elif isinstance(alias, str):
            # scalar alias normalized to list (vldt/fields.py:27-32)
            self.aliases = [alias]
        else:
            self.aliases = list(alias)
        self.ge, self.gt, self.le, self.lt = ge, gt, le, lt
        self.regex = regex
        self.isin = list(isin) if isin is not None else None
        self.unique = unique
        self.not_null = not_null
        self.element_ge = element_ge
        self.element_le = element_le
        self.min_size = min_size
        self.max_size = max_size
        # referential-integrity declaration: (dim_name, dim_column); the
        # dim DataFrame is supplied at run time (SURVEY.md B6)
        self.ref = ref

    @property
    def has_default(self) -> bool:
        return (
            self.default is not UNDEFINED
            or self.default_factory is not None
            or self.default_expr is not None
        )

    def resolve_default(self) -> Any:
        """Resolution chain step 2-3 (/root/reference/src/data_model.cpp:192-212)."""
        if self.default_factory is not None:
            return self.default_factory()
        return self.default
