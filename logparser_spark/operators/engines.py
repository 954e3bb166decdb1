"""The mining engines, declared once.

``ENGINES`` maps an engine name to the four things mine and assign need
from it: its default params, its online kernel, its merge and its
matcher.  An online kernel (a ``DrainTree``-shaped map with
``add_message``) mines each partition and the merge re-inserts the
partition template sets in canonical order.  A batch engine has no
online kernel: its fit is a pure function of the weighted unique-text
set, so each partition ships its deduped texts and the merge fits once
over their union at the driver — distributed output is then exactly the
sequential fit.  Don't "merge" batch-engine templates (AEL's
``(len, n_wildcard)`` binning isn't closed under re-fitting).

Entries are attribute names, resolved by :func:`engine`, so importing the
table imports no engine module.
"""

from __future__ import annotations

import importlib
from typing import Any, Callable, NamedTuple

from logparser_spark.config import DrainParams

#: name → (default params, online kernel or None, merge, matcher).  The
#: first three are attributes of ``logparser_spark.<name>``; the matcher
#: is a ``(templates, params, with_params)`` factory in
#: :mod:`logparser_spark.operators.assign`.
ENGINES: dict[str, tuple[str, str | None, str, str]] = {
    "drain":   ("DrainParams",   "DrainTree", "merge_template_sets", "_Matcher"),
    "spell":   ("SpellParams",   "SpellMap",  "merge_spell_sets",    "_spell_matcher"),
    "lenma":   ("LenMaParams",   "LenMaMap",  "merge_lenma_sets",    "_lenma_matcher"),
    "shiso":   ("ShisoParams",   "ShisoTree", "merge_shiso_sets",    "_shiso_matcher"),
    "iplom":   ("IPLoMParams",   None,        "merge_iplom_sets",    "_constant_matcher"),
    "ael":     ("AELParams",     None,        "merge_ael_sets",      "_constant_matcher"),
    "lke":     ("LKEParams",     None,        "merge_lke_sets",      "_constant_matcher"),
    "molfi":   ("MoLFIParams",   None,        "merge_molfi_sets",    "_constant_matcher"),
    "logmine": ("LogMineParams", None,        "merge_logmine_sets",  "_logmine_matcher"),
    "logsig":  ("LogSigParams",  None,        "merge_logsig_sets",   "_logsig_matcher"),
}


class Engine(NamedTuple):
    params: type
    kernel: type | None
    merge: Callable
    matcher: Callable

    def params_for(self, strategy_params: Any, drain: DrainParams) -> Any:
        """Drain runs on the pipeline's DrainParams (they also drive
        masking); every other engine on ``strategy_params`` or its
        defaults."""
        if self.params is DrainParams:
            return drain
        return self.params() if strategy_params is None else strategy_params


def engine(name: str) -> Engine:
    """The engine called ``name``; an unknown name raises ``ValueError``."""
    if name not in ENGINES:
        raise ValueError(
            f"unknown mining engine {name!r}; valid engines: {', '.join(ENGINES)}"
        )
    from logparser_spark.operators import assign

    params, kernel, merge, matcher = ENGINES[name]
    mod = importlib.import_module(f"logparser_spark.{name}")
    return Engine(
        getattr(mod, params),
        getattr(mod, kernel) if kernel else None,
        getattr(mod, merge),
        getattr(assign, matcher),
    )
