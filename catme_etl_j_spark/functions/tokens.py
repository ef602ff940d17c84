"""Word tokenization for the text operators, defined once.

Every text family (dedup, similarity, corpus statistics, sketches)
starts the same way: split the text into words, then slide an n-word
window over them. The decisions behind both steps live here:

* the split is ``split(trim(x), ' +')``. Spark's and DuckDB's ``trim``
  strip SPACES only, so tabs and newlines stay inside the edge words,
  and the split of ``''`` is the one-word list ``['']``;
* a window over an array with fewer than ``n`` elements yields an empty
  array. Unguarded, Spark's ``sequence(1, 0)`` DESCENDS to ``[1, 0]``,
  and ``element_at(w, 0)`` throws under ANSI mode or the window emits
  pseudo-grams the DuckDB twin never produces (convention #9).

The primitives take an already-staged array column by name, so each
caller keeps the plan hygiene that tests/test_plans.py pins: the words
are a separate column (evaluated once per row, not re-inlined into
every lambda lookup), and a generator over the windows is
``explode_outer`` + ``isNotNull``.

The DuckDB oracle twins spell the same policy by hand
(``regexp_split_to_array(trim(text), ' +')`` and ``list_transform``
over ``range``) on purpose: an oracle must stay an independent
derivation.
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

_SPACES = re.compile(" +")


def words(col: str = "text") -> Column:
    """The words of string column ``col``."""
    return F.split(F.trim(F.col(col)), " +")


def split_words(text: str) -> list[str]:
    """Python mirror of :func:`words` for the pandas and UDTF paths:
    ``strip(' ')`` is Spark's ``trim`` and ``re.split`` keeps the lone
    empty string of empty input, as Java's split does."""
    return _SPACES.split(text.strip(" "))


def normalized(col: str = "text") -> Column:
    """Case/punctuation/space-folded text, the key of normalized dedup
    and fingerprinting: lowercase -> strip non ``[a-z0-9 ]`` -> collapse
    runs of spaces -> trim."""
    return F.expr(
        f"trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9 ]', ''), ' +', ' '))"
    )


def windows(arr: str, n: int, window: Callable[[Column], Column]) -> Column:
    """``window(i)`` for each start ``i = 1 .. size(arr) - n + 1`` of an
    ``n``-element window over the staged array column ``arr``; an empty
    array when ``arr`` has fewer than ``n`` elements (or is NULL)."""
    a = F.col(arr)
    return F.when(
        F.size(a) >= n, F.transform(F.sequence(F.lit(1), F.size(a) - (n - 1)), window)
    ).otherwise(F.array())


def word_ngrams(
    w: str, n: int, *, distinct: bool = False, hashed: bool = False
) -> Column:
    """Space-joined word ``n``-grams of the staged words column ``w``, in
    position order; ``distinct`` drops repeats, ``hashed`` replaces each
    gram by its md5 hex digest."""

    def gram(i: Column) -> Column:
        g = F.concat_ws(" ", *(F.element_at(w, i + j if j else i) for j in range(n)))
        return F.md5(g) if hashed else g

    grams = windows(w, n, gram)
    return F.array_distinct(grams) if distinct else grams
