"""Torch-free reader for the reference engine's ``.torch`` coding
files — the last migration gap: the reference persists trained
codings with ``torch.save({"tensor": Tensor, "column": pa.DataType,
"config": Config})`` (ref: src/fenix/io/coder/coder.py:125), which
``migrate_reference_store`` previously could only skip-and-retrain.

``torch.save``'s on-disk layout (since torch 1.6, the default
"zipfile" serialization — a public, widely re-implemented format;
third-party readers exist in llama.cpp's convert scripts and the
safetensors converters) is an ordinary zip archive:

    <prefix>/data.pkl       pickle of the object graph; every tensor
                            reduces to ``torch._utils._rebuild_tensor_v2
                            (storage, offset, size, stride, ...)`` and
                            every storage is externalized as a pickle
                            PERSISTENT ID ``('storage', StorageType,
                            key, location, numel)``
    <prefix>/data/<key>     the raw little-endian storage bytes
    <prefix>/byteorder      "little" / "big" (newer torch only)
    <prefix>/version        serialization version

So reading it needs no torch at all: a *restricted* unpickler that
(a) resolves the handful of torch globals to numpy-backed stand-ins,
(b) loads storages from the zip on persistent-id lookup, and
(c) REFUSES every other global — these files are untrusted input and
a stock ``pickle.load`` would execute arbitrary reduce payloads.

The pre-1.6 legacy (tar / sequential-pickle) format raises by name.
"""

from __future__ import annotations

import os
import pickle
import zipfile
from collections import OrderedDict
from typing import Any

import numpy as np

__all__ = [
    "read_torch_pickle",
    "load_reference_coding",
    "import_reference_coding",
    "write_torch_pickle",
    "export_reference_coding",
]

# torch storage-class name → numpy dtype of the raw storage bytes.
# bfloat16 has no numpy dtype: read as uint16, widened at rebuild.
_STORAGE_DTYPES = {
    "DoubleStorage": np.dtype("<f8"),
    "FloatStorage": np.dtype("<f4"),
    "HalfStorage": np.dtype("<f2"),
    "LongStorage": np.dtype("<i8"),
    "IntStorage": np.dtype("<i4"),
    "ShortStorage": np.dtype("<i2"),
    "CharStorage": np.dtype("i1"),
    "ByteStorage": np.dtype("u1"),
    "BoolStorage": np.dtype("?"),
    "BFloat16Storage": np.dtype("<u2"),
}

# pyarrow DataType values pickle through these pyarrow.lib
# constructors (verified against pyarrow's own __reduce__ output);
# they are pure type builders with no side effects.
_PYARROW_ALLOWED = {
    "type_for_alias",
    "list_",
    "fixed_size_list",
    "field",
    "struct",
    "dictionary",
    "timestamp",
    "decimal128",
    "ensure_type",
}


class _StorageType:
    """Stand-in for ``torch.FloatStorage`` & co. inside persistent ids."""

    def __init__(self, name: str):
        self.name = name
        self.dtype = _STORAGE_DTYPES[name]
        self.bfloat16 = name == "BFloat16Storage"


class _Storage:
    """One externalized storage: raw bytes + element dtype."""

    def __init__(self, data: bytes, stype: _StorageType, numel: int):
        self.stype = stype
        arr = np.frombuffer(data, dtype=stype.dtype, count=numel)
        if stype.bfloat16:
            # bf16 is the high half of an f32: widen via a zero-filled
            # low half so values round-trip exactly
            arr = (arr.astype(np.uint32) << 16).view(np.float32)
        self.array = arr


def _rebuild_tensor(storage: _Storage, offset: int, size, stride) -> np.ndarray:
    size, stride = tuple(int(s) for s in size), tuple(int(s) for s in stride)
    if len(size) != len(stride):
        raise pickle.UnpicklingError(
            f"tensor size/stride rank mismatch ({size} vs {stride})"
        )
    # as_strided does NO bounds checking — a hostile (offset, size,
    # stride) triple would read arbitrary process memory. Validate the
    # min/max element touched against the storage extent first.
    lo = hi = offset
    for n, st in zip(size, stride):
        if n < 0:
            raise pickle.UnpicklingError(f"negative tensor dimension in {size}")
        if n > 0:
            span = (n - 1) * st
            lo, hi = lo + min(0, span), hi + max(0, span)
    numel = storage.array.size
    if offset < 0 or lo < 0 or (hi >= numel and 0 not in size):
        raise pickle.UnpicklingError(
            f"tensor view (offset={offset}, size={size}, stride={stride}) "
            f"reaches outside its {numel}-element storage"
        )
    base = storage.array[offset:]
    itemsize = base.dtype.itemsize
    out = np.lib.stride_tricks.as_strided(
        base, shape=size, strides=tuple(s * itemsize for s in stride)
    )
    return np.ascontiguousarray(out)


def _rebuild_tensor_v2(
    storage, offset, size, stride, requires_grad=False, backward_hooks=None, *extra
) -> np.ndarray:
    return _rebuild_tensor(storage, offset, size, stride)


def _torch_size(shape) -> tuple:
    return tuple(shape)


def _torch_device(spec: str = "cpu") -> str:
    return str(spec)


_TORCH_GLOBALS = {
    ("torch._utils", "_rebuild_tensor_v2"): _rebuild_tensor_v2,
    ("torch._utils", "_rebuild_tensor"): _rebuild_tensor,
    ("torch", "Size"): _torch_size,
    ("torch", "device"): _torch_device,
    ("collections", "OrderedDict"): OrderedDict,
}


class _RestrictedUnpickler(pickle.Unpickler):
    """Allowlist unpickler: torch tensor-rebuild machinery, pyarrow
    type constructors, OrderedDict — nothing else resolves. A foreign
    global raises UnpicklingError naming it instead of executing."""

    def __init__(self, file, zf: zipfile.ZipFile, prefix: str):
        super().__init__(file)
        self._zf = zf
        self._prefix = prefix

    def find_class(self, module: str, name: str) -> Any:  # noqa: D102
        if (module, name) in _TORCH_GLOBALS:
            return _TORCH_GLOBALS[(module, name)]
        if module == "torch" and name in _STORAGE_DTYPES:
            return _StorageType(name)
        if module == "pyarrow.lib" and name in _PYARROW_ALLOWED:
            import pyarrow.lib

            return getattr(pyarrow.lib, name)
        raise pickle.UnpicklingError(
            f"refusing to unpickle global {module}.{name} from an "
            "untrusted torch file (allowlist: torch tensor rebuilds, "
            "torch storages, pyarrow type constructors, OrderedDict)"
        )

    def persistent_load(self, pid) -> _Storage:  # noqa: D102
        if not (
            isinstance(pid, tuple) and len(pid) == 5 and pid[0] == "storage"
        ):
            raise pickle.UnpicklingError(f"unknown persistent id {pid!r}")
        _, stype, key, _location, numel = pid
        if not isinstance(stype, _StorageType):
            raise pickle.UnpicklingError(
                f"unsupported storage type in persistent id: {stype!r}"
            )
        try:
            data = self._zf.read(f"{self._prefix}data/{key}")
        except KeyError:
            raise pickle.UnpicklingError(
                f"storage {key!r} referenced by the pickle is missing "
                "from the archive"
            ) from None
        numel = int(numel)
        if numel < 0 or numel * stype.dtype.itemsize > len(data):
            raise pickle.UnpicklingError(
                f"storage {key!r} claims {numel} elements but holds "
                f"{len(data)} bytes"
            )
        return _Storage(data, stype, numel)


def read_torch_pickle(path: str) -> Any:
    """Load a ``torch.save`` zip file without torch. Tensors come back
    as contiguous numpy arrays (bf16 widened to f32); every other
    object must be on the allowlist or the load refuses."""
    if not zipfile.is_zipfile(path):
        raise NotImplementedError(
            f"{path} is not a torch zipfile — pre-1.6 legacy torch "
            "serialization (tar / sequential pickle) is not supported; "
            "re-save with a modern torch or retrain via coder.train_coding"
        )
    try:
        zf_cm = zipfile.ZipFile(path)
    except (zipfile.BadZipFile, OSError) as e:
        raise ValueError(f"{path}: corrupt zip archive ({e})") from e
    with zf_cm as zf:
        try:
            names = zf.namelist()
            pkl = next((n for n in names if n.endswith("data.pkl")), None)
            if pkl is None:
                raise ValueError(f"{path}: no data.pkl in archive ({names[:5]}...)")
            prefix = pkl[: -len("data.pkl")]
            bo = f"{prefix}byteorder"
            if bo in names:
                order = zf.read(bo).decode().strip()
                if order != "little":
                    raise NotImplementedError(
                        f"{path} was saved on a {order}-endian machine; only "
                        "little-endian storages are supported"
                    )
            member = zf.open(pkl)
        except NotImplementedError:
            raise  # the big-endian raise above (⊂ RuntimeError!)
        except (zipfile.BadZipFile, OSError, UnicodeDecodeError, RuntimeError) as e:
            # corrupt local headers / mangled offsets / a flipped
            # encryption bit surface from zipfile as BadZipFile, raw
            # OSError, or RuntimeError — normalize them all
            raise ValueError(f"{path}: corrupt zip member ({e})") from e
        with member as f:
            try:
                return _RestrictedUnpickler(f, zf, prefix).load()
            except pickle.UnpicklingError:
                raise
            except Exception as e:  # noqa: BLE001 - malformed untrusted bytes
                # truncated/garbled pickles surface as EOFError, KeyError,
                # struct.error, Attribute/Index/Type/Memory errors from the
                # opcode machinery — normalize so callers handle ONE type
                raise pickle.UnpicklingError(
                    f"malformed torch pickle in {path}: {type(e).__name__}: {e}"
                ) from e


def load_reference_coding(path: str) -> dict:
    """Read one reference coding file into
    ``{"tensor": np.ndarray (n, k, sub_dim), "column": pa.DataType,
    "config": dict}`` and validate the shape against the config
    (ref: io/coder/coder.py:31-34 — Coding = {tensor, column, config})."""
    obj = read_torch_pickle(path)
    if not isinstance(obj, dict) or not {"tensor", "config"} <= set(obj):
        raise ValueError(
            f"{path} is not a reference coding (expected keys "
            f"tensor/column/config, got {sorted(obj) if isinstance(obj, dict) else type(obj)})"
        )
    tensor = np.asarray(obj["tensor"])
    cfg = dict(obj["config"])
    n, k = int(cfg["num_codebooks"]), int(cfg["codebook_size"])
    if tensor.ndim != 3 or tensor.shape[:2] != (n, k):
        raise ValueError(
            f"{path}: tensor shape {tensor.shape} does not match config "
            f"(num_codebooks={n}, codebook_size={k})"
        )
    return {"tensor": tensor, "column": obj.get("column"), "config": cfg}


def import_reference_coding(spark, torch_path: str, out_path: str):
    """Convert a reference ``.torch`` coding into this engine's coding
    table (schema of ``coder.train_coding``: one row per (codebook,
    cell) with the centroid sub-vector) and write it at ``out_path``.
    Returns the coding as a driver-local frame
    (``coder.coding_from_numpy``) — directly usable by
    ``assign_codes`` / ``probe_*`` / ``build_index``, no retrain."""
    from fenix_spark.operators.coder import coding_from_numpy

    d = load_reference_coding(torch_path)
    df = coding_from_numpy(
        spark, d["tensor"].astype(np.float64), str(d["config"].get("metric", "l2"))
    )
    df.coalesce(1).write.mode("overwrite").parquet(out_path)
    return df


# ------------------------------------------------------------------
# The EXPORT half: write torch's zip serialization without torch, so a
# Spark-trained coding can be dropped into a reference store and
# served by the reference engine (ref: io/coder/coder.py:120-125 saves
# {"tensor": Tensor, "column": pa.DataType, "config": Config} at
# codings/<name>.torch; coder.load torch.load()s it back). torch.save
# stores tensors as GLOBAL records resolved BY NAME ("torch._utils
# _rebuild_tensor_v2", "torch FloatStorage") plus persistent-id
# externalized storages — so the writer needs only modules that
# CLAIM those names while pickling. When a real torch is importable
# its own globals are used; otherwise inert stand-in modules are
# registered in sys.modules for the duration of the dump (the emitted
# bytes are identical either way — pickle writes module+name strings).


class _NumpyTensorProxy:
    """Pickles exactly like a contiguous torch Tensor."""

    def __init__(self, arr: np.ndarray):
        self.arr = np.ascontiguousarray(arr)

    def __reduce_ex__(self, protocol):
        import sys

        rebuild = sys.modules["torch._utils"]._rebuild_tensor_v2
        flat = self.arr.reshape(-1)
        stride = tuple(s // self.arr.itemsize for s in self.arr.strides)
        return (
            rebuild,
            (
                _NumpyStorageProxy(flat),
                0,
                tuple(self.arr.shape),
                stride,
                False,
                OrderedDict(),
            ),
        )


class _NumpyStorageProxy:
    def __init__(self, flat: np.ndarray):
        self.flat = flat
        name = {
            np.dtype("float64"): "DoubleStorage",
            np.dtype("float32"): "FloatStorage",
            np.dtype("float16"): "HalfStorage",
            np.dtype("int64"): "LongStorage",
            np.dtype("int32"): "IntStorage",
            np.dtype("int16"): "ShortStorage",
            np.dtype("int8"): "CharStorage",
            np.dtype("uint8"): "ByteStorage",
            np.dtype("bool"): "BoolStorage",
        }.get(flat.dtype)
        if name is None:
            raise TypeError(f"no torch storage for numpy dtype {flat.dtype}")
        self.storage_name = name


def _torch_name_modules():
    """(modules_dict, installed) — module objects answering to
    ``torch`` / ``torch._utils`` for pickling-by-name. Real torch wins
    when importable; otherwise inert stand-ins are built."""
    import sys
    import types

    try:
        import torch  # noqa: F401 - real torch: nothing to fake

        return {}, False
    except ImportError:
        pass
    if "torch" in sys.modules:  # a prior writer's stand-ins are live
        return {}, False
    torch_mod = types.ModuleType("torch")
    utils_mod = types.ModuleType("torch._utils")

    def _rebuild_tensor_v2(*a):  # pickled by NAME, never called here
        raise AssertionError("write-side stand-in")

    _rebuild_tensor_v2.__module__ = "torch._utils"
    _rebuild_tensor_v2.__qualname__ = "_rebuild_tensor_v2"
    utils_mod._rebuild_tensor_v2 = _rebuild_tensor_v2
    for name in _STORAGE_DTYPES:
        setattr(
            torch_mod,
            name,
            type(name, (), {"__module__": "torch", "__qualname__": name}),
        )
    torch_mod._utils = utils_mod
    sys.modules["torch"] = torch_mod
    sys.modules["torch._utils"] = utils_mod
    return {"torch": torch_mod, "torch._utils": utils_mod}, True


def write_torch_pickle(path: str, obj: Any) -> None:
    """Serialize ``obj`` in torch's zip format (torch-free). numpy
    arrays wrapped in ``_NumpyTensorProxy`` become torch Tensors on a
    real-torch reader; plain dict/list/str/int/float/pyarrow-DataType
    values pickle natively. Layout matches torch.save: one
    ``archive/data.pkl`` (protocol 2, torch's default), externalized
    little-endian storages under ``archive/data/<key>``, plus the
    ``byteorder``/``version`` members."""
    import io
    import sys

    installed, created = _torch_name_modules()
    try:
        storages: list[tuple[str, bytes]] = []

        class _P(pickle.Pickler):
            def persistent_id(self, o):
                if isinstance(o, _NumpyStorageProxy):
                    key = str(len(storages))
                    storages.append((key, o.flat.tobytes()))
                    stype = getattr(sys.modules["torch"], o.storage_name)
                    return ("storage", stype, key, "cpu", int(o.flat.size))
                return None

        buf = io.BytesIO()
        _P(buf, protocol=2).dump(obj)
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)

        def _member(name: str) -> zipfile.ZipInfo:
            # fixed timestamp: same object → byte-identical archive
            # (exports are content-addressed-diffable, tests byte-pin)
            return zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))

        with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
            zf.writestr(_member("archive/data.pkl"), buf.getvalue())
            zf.writestr(_member("archive/byteorder"), "little")
            zf.writestr(_member("archive/version"), "3")
            for key, data in storages:
                zf.writestr(_member(f"archive/data/{key}"), data)
    finally:
        if created:
            for name in installed:
                sys.modules.pop(name, None)


def export_reference_coding(
    coding, path: str, batch_size: int = 256, num_epochs: int = 1
) -> None:
    """Inverse of :func:`import_reference_coding`: serialize a coding
    table trained by ``coder.train_coding`` (rows of (codebook, cell,
    centroid, metric, codebook_size, num_codebooks)) into the
    reference's ``codings/<name>.torch`` layout, so a reference server
    can load and serve a Spark-trained coding without retraining.

    The tensor goes out float32 (the reference trains in float32);
    ``column`` is the source vector type the reference records —
    ``fixed_size_list(float32, num_codebooks * sub_dim)``.
    ``batch_size``/``num_epochs`` are provenance fields in the
    reference Config (io/coder/coder.py:24-29) with no effect on
    serving; the defaults mark an externally-trained coding. Collect
    is codebook-sized (num_codebooks × codebook_size rows) — a model,
    not data."""
    import pyarrow as pa

    from fenix_spark.operators.coder import CODING_SCHEMA

    rows = coding.select(*CODING_SCHEMA.names).collect()
    if not rows:
        raise ValueError("export_reference_coding: empty coding table")
    n = int(rows[0]["num_codebooks"])
    k = int(rows[0]["codebook_size"])
    metric = str(rows[0]["metric"])
    sub_dim = len(rows[0]["centroid"])
    tensor = np.zeros((n, k, sub_dim), dtype=np.float32)
    seen = set()
    for r in rows:
        j, c = int(r["codebook"]), int(r["cell"])
        if not (0 <= j < n and 0 <= c < k):
            raise ValueError(
                f"coding row (codebook={j}, cell={c}) outside "
                f"({n} codebooks × {k} cells)"
            )
        tensor[j, c] = np.asarray(r["centroid"], dtype=np.float32)
        seen.add((j, c))
    if len(seen) != n * k:
        raise ValueError(
            f"coding table holds {len(seen)} distinct (codebook, cell) "
            f"rows; the reference layout needs all {n * k}"
        )
    obj = {
        "tensor": _NumpyTensorProxy(tensor),
        "column": pa.list_(pa.float32(), n * sub_dim),
        "config": {
            "metric": metric,
            "codebook_size": k,
            "num_codebooks": n,
            "batch_size": int(batch_size),
            "num_epochs": int(num_epochs),
        },
    }
    write_torch_pickle(path, obj)
