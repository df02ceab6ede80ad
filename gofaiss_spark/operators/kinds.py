"""One record per tabular index kind: which kind is this, and what does
it take.

The six tabular kinds (Flat, IVF, PQ, SQ, IVFPQ, IVFSQ) share one
shape: a table of rows (id, vec or code, and list_id for the cell
kinds) plus a few quantizer arrays. Every tier reads the kind's record
here instead of restating the decision in a type ladder of its own:
the ``api`` façade (footprint, localize, search arguments), artifact
save/load/remove/compact, ``reconstruct``/``merge_index``, the sharded
tier and the local pool. The reference makes the same decision once:
one type switch in ``Searcher`` and ``detectIndexType``
(search.go:17-29, :193-208).

HNSW, LSH, OPQ, PCA and the text index keep their own branches.
"""

from __future__ import annotations

import functools
import importlib
from dataclasses import dataclass, fields

import numpy as np

from gofaiss_spark.operators.flat import FlatIndex
from gofaiss_spark.operators.ivf import IvfIndex
from gofaiss_spark.operators.ivfpq import IvfPqIndex
from gofaiss_spark.operators.ivfsq import IvfSqIndex
from gofaiss_spark.operators.local_serve import (
    LocalFlatIndex,
    LocalIvfIndex,
    LocalIvfPqIndex,
    LocalIvfSqIndex,
    LocalPqIndex,
    LocalSqIndex,
)
from gofaiss_spark.operators.pq import PqIndex
from gofaiss_spark.operators.sq import SqIndex


def fill(cls, kw: dict):
    """``cls`` built from the entries of ``kw`` it has a field for."""
    names = {f.name for f in fields(cls)}
    return cls(**{key: v for key, v in kw.items() if key in names})


def _resolve(module: str, name: str):
    return functools.reduce(getattr, name.split("."),
                            importlib.import_module(module))


@dataclass(frozen=True)
class Kind:
    name: str          # artifact ``index_type`` and shard meta ``kind``
    index: type        # the distributed class
    local: type        # its Local*Index
    table: str         # rows attribute and artifact table
    row_col: str       # "vec" or "code"
    cell: bool         # rows carry list_id; tables partitioned by it
    quantizer: tuple   # arrays the Local*Index takes from the index, f64
    params: tuple      # ``_meta.json`` params, in file order
    width: str         # attribute giving a row's element count
    elem_bytes: int    # bytes per row element, for ``api.localized_mb``
    dtype: type        # the local row matrix dtype
    takes: tuple       # search keywords the kind takes
    # named, not held: resolved at call time, so the module attribute
    # is what runs (perfbench's tracer wraps search_ivf, to_local_ivf)
    search: str        # distributed search, in the index's module
    to_local: str      # localizer, in local_serve

    @property
    def matrices(self) -> tuple:
        """The quantizer arrays stored as matrix tables; SQ's vmin and
        step ride in the params (as vmin, vmax)."""
        return tuple(q for q in self.quantizer
                     if q in ("centroids", "codebooks"))

    def args(self, **cand) -> dict:
        """The entries of ``cand`` this kind's searches take."""
        return {key: v for key, v in cand.items() if key in self.takes}

    def search_df(self, index, queries, k: int, **cand):
        """The distributed search of ``index`` with the arguments of
        ``cand`` that it takes."""
        fn = _resolve(self.index.__module__, self.search)
        return fn(index, queries, k=k, **self.args(**cand))

    def localize(self, index):
        """``index`` collected into its Local*Index."""
        return _resolve("gofaiss_spark.operators.local_serve",
                        self.to_local)(index)


_VEC = {"row_col": "vec", "width": "dim", "elem_bytes": 4,
        "dtype": np.float32}
_PQ = {"row_col": "code", "width": "m", "elem_bytes": 1, "dtype": np.uint16}
_SQ = {"row_col": "code", "width": "dim", "elem_bytes": 1, "dtype": np.uint8}

KINDS = {kd.name: kd for kd in (
    Kind("flat", FlatIndex, LocalFlatIndex, "vectors", cell=False,
         quantizer=(), params=(), takes=("method",),
         search="FlatIndex.search", to_local="to_local", **_VEC),
    Kind("ivf", IvfIndex, LocalIvfIndex, "assignments", cell=True,
         quantizer=("centroids",), params=("nlist",), takes=("nprobe",),
         search="search_ivf", to_local="to_local_ivf", **_VEC),
    Kind("pq", PqIndex, LocalPqIndex, "codes", cell=False,
         quantizer=("codebooks",), params=("m", "nbits"),
         takes=("refine", "base"),
         search="search_pq", to_local="to_local_pq", **_PQ),
    Kind("sq", SqIndex, LocalSqIndex, "codes", cell=False,
         quantizer=("vmin", "step"), params=("vmin", "vmax"),
         takes=("refine", "base"),
         search="search_sq", to_local="to_local_sq", **_SQ),
    Kind("ivfpq", IvfPqIndex, LocalIvfPqIndex, "codes", cell=True,
         quantizer=("centroids", "codebooks"),
         params=("nlist", "m", "nbits"),
         takes=("nprobe", "refine", "base"),
         search="search_ivfpq", to_local="to_local_ivfpq", **_PQ),
    Kind("ivfsq", IvfSqIndex, LocalIvfSqIndex, "codes", cell=True,
         quantizer=("centroids", "vmin", "step"),
         params=("nlist", "vmin", "vmax"),
         takes=("nprobe", "refine", "base"),
         search="search_ivfsq", to_local="to_local_ivfsq", **_SQ),
)}

_BY_CLASS = {kd.index: kd for kd in KINDS.values()}


def kind_of(index) -> Kind | None:
    """The record of a distributed tabular index, else None."""
    return _BY_CLASS.get(type(index))
