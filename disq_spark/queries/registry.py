"""The one gate registry: every query module's ``QUERIES`` and ``ORACLE``
and their union in ``all_queries``/``all_oracles``."""

from __future__ import annotations


class Registry(dict):
    """``name -> gate`` (a query function, or an oracle's SQL) that
    refuses a name given twice, so no gate can silently replace another."""

    def __setitem__(self, name: str, gate) -> None:
        if name in self:
            raise ValueError(f"gate {name!r} is registered twice")
        super().__setitem__(name, gate)

    def register(self, name: str):
        """Decorator: register the decorated query function as ``name``."""

        def deco(fn):
            self[name] = fn
            return fn

        return deco


def union(registries) -> dict:
    """One dict of every registry's gates; a name that two of them
    register is refused."""
    out = Registry()
    for reg in registries:
        for name, gate in reg.items():
            out[name] = gate
    return dict(out)
