"""Typed parameter extraction with silent-default semantics.

Parity with the reference's TransformerUtils
(features/TransactionTransformers.scala:14-34): a missing key OR a
wrong-typed value falls back to the default (asserted by the
reference's spec at TransactionTransformersSpec.scala:32,45,51).
"""

from __future__ import annotations


def get_string_param(params: dict, key: str, default: str) -> str:
    v = params.get(key)
    return v if isinstance(v, str) else default


def get_double_param(params: dict, key: str, default: float) -> float:
    v = params.get(key)
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return default
    return float(v)


def get_int_param(params: dict, key: str, default: int) -> int:
    v = params.get(key)
    if isinstance(v, bool) or not isinstance(v, int):
        # parity with reference UserSpendAggregator: `as[Int]` accepts
        # only integral JSON numbers
        if isinstance(v, float) and v.is_integer():
            return int(v)
        return default
    return v


def get_string_list_param(params: dict, key: str, default: list[str]) -> list[str]:
    v = params.get(key)
    if isinstance(v, list) and all(isinstance(x, str) for x in v):
        return v
    return default
