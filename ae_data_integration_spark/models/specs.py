"""The reference's 8 AE architectures as declarative layer specs.

Mirrors Evaluation_Auxiliary/model_structures.py (CNC :37-199,
X :206-360, MM :366-528, SS/JISAE :531-756, SSO/JISAE-O1 :759-984,
SSO2 :987-1212, SSO3 :1215-1440, MOCSS :1533-1704): every
architecture reduces to per-view encoder/decoder MLP stacks
(Linear → BatchNorm1d → activation → Dropout) plus a fusion rule
(concat / mean-of-shared), so the engine ships them as data, not
code — one executor (operators/inference.py) runs any spec.

Dims here are the *fixture-scale* stand-ins (embedding table is
64-d); the reference's production dims (20531/1046 inputs, §6
embedding dims) are a config swap. Dropout is eval-mode identity —
the engine's inference path matches the reference's
`model.eval()` + `torch.no_grad()` extraction
(embedding_from_retrained_models.py:7-92).

Weights are deterministic: seeded numpy PCG64 streams derived from
(arch, layer) names — reproducible anywhere without shipping
checkpoint files. Real checkpoints would load the same dict shape
from state_dict-style parquet (SURVEY §1.3: model artifacts as
arrays + metadata, not whole-module pickles).
"""

from __future__ import annotations

import hashlib

import numpy as np

# Fixture-scale architecture specs: two 32-d views sliced out of the
# 64-d embedding fixture. enc/dec are per-view MLP widths; "joint"
# marks CNC-style concat-then-encode; "fusion" the embedding rule.
ARCHITECTURES: dict[str, dict] = {
    # CNC (ref model_structures.py:37-199): concat views -> one AE.
    "CNC": {"joint": True, "enc": [64, 32, 8], "dec": [8, 32, 64], "act": "tanh",
            "fusion": "joint"},
    # X (ref :206-360): cross-modal — encode each view, decode both.
    "X": {"joint": False, "enc": [32, 16, 8], "dec": [8, 16, 32], "act": "tanh",
          "fusion": "concat"},
    # MM (ref :366-528): per-view AEs, concat embeddings.
    "MM": {"joint": False, "enc": [32, 16, 8], "dec": [8, 16, 32], "act": "relu",
           "fusion": "concat"},
    # JISAE/SS (ref :531-756): joint + specific branches, concat all.
    "JISAE": {"joint": False, "enc": [32, 16, 8], "dec": [8, 16, 32], "act": "tanh",
              "fusion": "concat_joint"},
    "JISAE-O1": {"joint": False, "enc": [32, 16, 8], "dec": [8, 16, 32], "act": "tanh",
                 "fusion": "concat_joint"},
    "JISAE-O2": {"joint": False, "enc": [32, 16, 8], "dec": [8, 16, 32], "act": "tanh",
                 "fusion": "concat_joint"},
    "JISAE-O3": {"joint": False, "enc": [32, 16, 8], "dec": [8, 16, 32], "act": "tanh",
                 "fusion": "concat_joint"},
    # MOCSS (ref :1533-1704, mocss.py:138-356): shared+specific,
    # mean-of-shared fusion (embedding_from_retrained_models.py:73-84).
    "MOCSS": {"joint": False, "enc": [32, 16, 8], "dec": [8, 16, 32], "act": "relu",
              "fusion": "mean_shared"},
}

# embeddings concatenated per fusion rule (operators/inference.ae_forward)
_FUSED_PARTS = {"joint": 1, "concat": 2, "concat_joint": 3, "mean_shared": 3}


def embedding_dim(arch: str) -> int:
    """Width of the embedding ``arch`` produces: the code width times
    the number of codes its fusion rule concatenates."""
    spec = ARCHITECTURES[arch]
    return spec["enc"][-1] * _FUSED_PARTS[spec["fusion"]]


def _seed(name: str) -> int:
    return int(hashlib.md5(name.encode()).hexdigest()[:12], 16)


def build_weights(arch: str, view_dims: tuple[int, ...] = (32, 32)) -> dict[str, np.ndarray]:
    """Deterministic Glorot-ish weights for every layer of `arch`.

    Keyed '{view}/{kind}{i}/W' and '.../b'. Same (arch, shapes) →
    bit-identical weights on any machine (PCG64 stream).

    The spec's enc[0]/dec[-1] widths are the 32-d fixture defaults;
    the REAL input width per view comes from ``view_dims`` — the
    encoder's first width and the decoder's last are substituted per
    view (20,531/1,046 at the reference's production scale,
    model_structures.py:44-45), every interior width stays the
    spec's. With the default (32, 32) the substituted stacks equal
    the spec widths exactly, so fixture-scale weights are
    bit-identical to rounds ≤6.
    """
    spec = ARCHITECTURES[arch]
    out: dict[str, np.ndarray] = {}

    def mk(view: str, kind: str, widths: list[int]) -> None:
        for i, (d_in, d_out) in enumerate(zip(widths[:-1], widths[1:])):
            rng = np.random.default_rng(_seed(f"{arch}:{view}:{kind}{i}"))
            scale = np.sqrt(6.0 / (d_in + d_out))
            out[f"{view}/{kind}{i}/W"] = rng.uniform(-scale, scale, (d_in, d_out))
            out[f"{view}/{kind}{i}/b"] = rng.uniform(-0.1, 0.1, d_out)

    def enc_widths(d_in: int) -> list[int]:
        return [d_in] + spec["enc"][1:]

    def dec_widths(d_out: int) -> list[int]:
        return spec["dec"][:-1] + [d_out]

    if spec["joint"]:
        d = sum(view_dims)
        mk("joint", "enc", enc_widths(d))
        mk("joint", "dec", dec_widths(d))
    else:
        for v, dv in enumerate(view_dims):
            mk(f"v{v}", "enc", enc_widths(dv))
            mk(f"v{v}", "dec", dec_widths(dv))
        if spec["fusion"] == "concat_joint":
            # SS/JISAE joint branch encodes the concatenated views
            # (ref model_structures.py:641,869).
            mk("shared", "enc", enc_widths(sum(view_dims)))
        elif spec["fusion"] == "mean_shared":
            # MOCSS: per-view shared encoders; embeddings fuse as
            # (shared1+shared2)/2 ⊕ specifics
            # (ref embedding_from_retrained_models.py:73-84).
            for v, dv in enumerate(view_dims):
                mk(f"shared{v}", "enc", enc_widths(dv))
    return out
