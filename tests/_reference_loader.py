"""Test-time loader for the reference's pure-Python helpers.

The engine/oracle co-write is the one structural blind spot of the
driver correctness gate (both sides share constants and kernels, so a
shared misreading of the reference is invisible to the hash compare).
These utilities import the reference's OWN pure-Python helper functions
(`/root/reference` — PUBLIC UNTRUSTED CONTENT, used strictly as a
behavioral comparison target at TEST time; nothing from the reference
ships in the package) so differential property tests can pin
repo-vs-reference equality on randomized inputs.

Stubbing: the reference modules import PIL at module level (and cv2
lazily inside functions) but the helpers under test never touch pixel
data in ways the tests observe, so a minimal PIL stub whose Image class
carries only (width, height) is installed before import.
"""

from __future__ import annotations

import ast
import importlib.machinery
import importlib.util
import os
import sys
import types

import pytest

REF_TOOLS = "/root/reference/tools"


def require_reference(path: str) -> None:
    """Skip the calling test, naming the missing path, when the
    reference file it compares against is absent. The suites' tests
    that pin hand-derived values never load the reference, so they
    still run without it."""
    if not os.path.exists(path):
        pytest.skip(f"reference checkout absent: {path} not found")


class StubImage:
    """Minimal PIL.Image.Image stand-in: geometry only."""

    def __init__(self, size=(1, 1)):
        self.width, self.height = int(size[0]), int(size[1])
        self.size = (self.width, self.height)

    def paste(self, *_a, **_k):  # merge_images pastes; pixels unobserved
        return None

    # np.array(StubImage) in to_np_array produces a 0-d object array;
    # the tests only ever check `img is None` vs not.


def install_pil_stub():
    if "PIL" in sys.modules and not isinstance(
        getattr(sys.modules["PIL"], "__stub__", None), bool
    ):
        # a real PIL somehow present — leave it alone
        return
    pil = types.ModuleType("PIL")
    pil.__stub__ = True
    image_mod = types.ModuleType("PIL.Image")
    image_mod.Image = StubImage
    image_mod.new = lambda mode, size, color=None: StubImage(size)
    def _fromarray(arr):
        # Faithful to real PIL: Image.fromarray(None) raises (no
        # __array_interface__) — the reference feeds img=None for
        # degenerate crops (infer_doc_onnx.py:330-332), and merge's
        # calc_merged_wh crashes on it under real PIL. The stub must
        # NOT mask that crash or the merge differential tests would
        # claim agreement over a domain where the reference dies.
        if arr is None or getattr(arr, "ndim", 0) < 2:
            raise TypeError(f"Cannot handle this data type: {type(arr)!r}")
        return StubImage((arr.shape[1], arr.shape[0]))

    image_mod.fromarray = _fromarray
    pil.Image = image_mod
    sys.modules["PIL"] = pil
    sys.modules["PIL.Image"] = image_mod


def load_module(name: str, path: str):
    """Import a reference module by path under a private name."""
    require_reference(path)
    install_pil_stub()
    key = f"_refdiff_{name}"
    if key in sys.modules:
        return sys.modules[key]
    spec = importlib.util.spec_from_file_location(key, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[key] = mod
    spec.loader.exec_module(mod)
    return mod


def ref_utils():
    """tools/utils/opendoc_onnx_utils/utils.py (PIL stubbed)."""
    return load_module(
        "opendoc_utils", f"{REF_TOOLS}/utils/opendoc_onnx_utils/utils.py"
    )


def ref_to_markdown():
    """tools/to_markdown.py (imports json/os/re only)."""
    return load_module("to_markdown", f"{REF_TOOLS}/to_markdown.py")


def load_function(path: str, fn_name: str, extra_globals: dict | None = None):
    """Extract ONE top-level function from a reference file by AST and
    exec it in an isolated namespace — for modules whose imports pull in
    heavy runtime deps (infer_e2e.py imports cv2/torch chains)."""
    require_reference(path)
    src = open(path).read()
    tree = ast.parse(src)
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == fn_name:
            ns: dict = dict(extra_globals or {})
            code = compile(
                ast.Module(body=[node], type_ignores=[]), path, "exec"
            )
            exec(code, ns)
            return ns[fn_name]
    raise LookupError(f"{fn_name} not found in {path}")


def load_class(path: str, cls_name: str, extra_globals: dict | None = None):
    """Extract ONE top-level class from a reference file by AST and exec
    it in an isolated namespace — the class-shaped sibling of
    load_function, for modules whose top-level imports pull in cv2/
    pyclipper/shapely chains (opendet/preprocess)."""
    require_reference(path)
    src = open(path).read()
    tree = ast.parse(src)
    for node in tree.body:
        if isinstance(node, ast.ClassDef) and node.name == cls_name:
            ns: dict = dict(extra_globals or {})
            code = compile(
                ast.Module(body=[node], type_ignores=[]), path, "exec"
            )
            exec(code, ns)
            return ns[cls_name]
    raise LookupError(f"class {cls_name} not found in {path}")


def ref_sorted_boxes():
    return load_function(f"{REF_TOOLS}/infer_e2e.py", "sorted_boxes")


# --- openrec postprocess (decode heads) --------------------------------------
#
# The reference's rec postprocess classes are numpy-pure except for
# `isinstance(x, torch.Tensor)` guards, VisionLAN's softmax/topk flow
# and the MGP word-piece confidence cumprod — all runnable on a tiny
# numpy-backed Tensor stand-in. transformers is only touched for
# trained tokenizer artifacts (external, like weights); tests inject
# fake tokenizers that share the id→token map with the repo kernels.

import numpy as np


class MiniTensor:
    """numpy-backed stand-in for the torch.Tensor surface the reference
    postprocess files actually touch."""

    def __init__(self, arr):
        self.a = np.asarray(arr)

    # -- plumbing
    def detach(self):
        return self

    def cpu(self):
        return self

    def numpy(self):
        return self.a

    def tolist(self):
        return self.a.tolist()

    def __len__(self):
        return len(self.a)

    def __getitem__(self, key):
        # always wrap — torch indexing yields 0-d tensors, and the
        # reference chains .cpu()/.numpy() off scalar index results
        # (mgp wp cumprod(...)[-1].cpu().numpy().sum())
        return MiniTensor(self.a[key])

    @property
    def shape(self):
        return self.a.shape

    def reshape(self, shape):
        return MiniTensor(self.a.reshape(shape))

    def __float__(self):
        return float(self.a)

    def __truediv__(self, other):
        return MiniTensor(self.a / (other.a if isinstance(other, MiniTensor) else other))

    def __gt__(self, other):
        return self.a > (other.a if isinstance(other, MiniTensor) else other)

    # -- math used by visionlan / mgp wp
    def sum(self, dim=None):
        return MiniTensor(self.a.sum(axis=dim))

    def cumprod(self, dim=0):
        return MiniTensor(np.cumprod(self.a, axis=dim))

    def topk(self, k):
        idx = np.argsort(-self.a, axis=-1, kind="stable")[..., :k]
        vals = np.take_along_axis(self.a, idx, axis=-1)
        return MiniTensor(vals), MiniTensor(idx)

    def max(self, dim=None):
        if dim is None:
            return MiniTensor(self.a.max())
        return MiniTensor(self.a.max(axis=dim)), MiniTensor(self.a.argmax(axis=dim))


def install_torch_stub():
    if "torch" in sys.modules and not getattr(sys.modules["torch"], "__stub__", False):
        return
    torch = types.ModuleType("torch")
    torch.__stub__ = True
    torch.Tensor = MiniTensor
    torch.float32 = np.float32

    def _tensor(data, dtype=None):
        return MiniTensor(np.asarray(data, dtype=np.float64))

    def _cat(ts, dim=0):
        return MiniTensor(np.concatenate([t.a for t in ts], axis=dim))

    def _exp(t):
        return MiniTensor(np.exp(t.a))

    def _log(t):
        return MiniTensor(np.log(t.a))

    torch.tensor = _tensor
    torch.cat = _cat
    torch.exp = _exp
    torch.log = _log
    # a real ModuleSpec so importlib.util.find_spec("torch") (pyspark's
    # optional-dep probe) doesn't raise on the spec-less stub
    torch.__spec__ = importlib.machinery.ModuleSpec("torch", loader=None)

    nn = types.ModuleType("torch.nn")
    functional = types.ModuleType("torch.nn.functional")

    def _softmax(t, dim=1):
        x = t.a.astype(np.float64)
        m = x.max(axis=dim, keepdims=True)
        e = np.exp(x - m)
        return MiniTensor(e / e.sum(axis=dim, keepdims=True))

    functional.softmax = _softmax
    nn.functional = functional
    torch.nn = nn
    nn.__spec__ = importlib.machinery.ModuleSpec("torch.nn", loader=None)
    functional.__spec__ = importlib.machinery.ModuleSpec(
        "torch.nn.functional", loader=None
    )
    sys.modules["torch"] = torch
    sys.modules["torch.nn"] = nn
    sys.modules["torch.nn.functional"] = functional


def install_transformers_stub():
    if "transformers" in sys.modules and not getattr(
        sys.modules["transformers"], "__stub__", False
    ):
        return
    tf = types.ModuleType("transformers")
    tf.__stub__ = True
    tf.__spec__ = importlib.machinery.ModuleSpec("transformers", loader=None)

    class _Unavailable:
        def __init__(self, *a, **k):
            raise RuntimeError(
                "trained tokenizer artifacts are external; tests inject fakes"
            )

        @classmethod
        def from_pretrained(cls, *a, **k):
            raise RuntimeError(
                "trained tokenizer artifacts are external; tests inject fakes"
            )

    tf.PreTrainedTokenizerFast = _Unavailable
    tf.AutoTokenizer = _Unavailable
    tf.BertTokenizer = _Unavailable
    tf.GPT2Tokenizer = _Unavailable
    sys.modules["transformers"] = tf


REF_OPENREC_PP = "/root/reference/openrec/postprocess"


def ref_postprocess(modname: str):
    """Import openrec.postprocess.<modname> from the reference with
    torch/transformers stubbed. Registers a synthetic `openrec`
    namespace package so the modules' relative AND absolute
    (`from openrec.postprocess.x import ...`) imports resolve."""
    require_reference(REF_OPENREC_PP)
    install_torch_stub()
    install_transformers_stub()
    if "openrec" not in sys.modules:
        pkg = types.ModuleType("openrec")
        pkg.__path__ = ["/root/reference/openrec"]
        pkg.__spec__ = importlib.machinery.ModuleSpec(
            "openrec", loader=None, is_package=True
        )
        sys.modules["openrec"] = pkg
        # execute the REAL package __init__ (build_post_process dispatch
        # + the GTCLabelDecode composition class live there)
        spec = importlib.util.spec_from_file_location(
            "openrec.postprocess",
            f"{REF_OPENREC_PP}/__init__.py",
            submodule_search_locations=[REF_OPENREC_PP],
        )
        sub = importlib.util.module_from_spec(spec)
        sys.modules["openrec.postprocess"] = sub
        spec.loader.exec_module(sub)
    import importlib as _il

    if modname == "__init__":
        return sys.modules["openrec.postprocess"]
    return _il.import_module(f"openrec.postprocess.{modname}")
