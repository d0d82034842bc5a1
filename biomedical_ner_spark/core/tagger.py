"""Pluggable taggers (SURVEY.md M1-M3).

The reference's neural path is CombinatorialNER (models/models.py:165-193):
word/char encoders -> BiLSTM -> emissions -> CRF Viterbi decode
(models/models.py:193) with an argmax fallback (app.py:285-293).  Its
trained weights are absent from the repo (SURVEY.md header), so:

* `GazetteerTagger` — the deterministic parity anchor (lexicon rule).
* `EmissionCRFTagger` — the *shape-faithful* neural-path stand-in: batched
  emissions from a deterministic hashed-feature linear layer + a REAL
  batched Viterbi decode in numpy (the same DP the CRF layer runs).  Real
  torch weights drop in by replacing `emissions_fn` and the transition
  matrix; the Spark plumbing (per-executor lazy init from broadcast bytes,
  Arrow batching, length bucketing) is identical either way.
* `load_torch_tagger` — gated import for a real checkpoint (torch absent
  in this container -> raises with instructions).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Sequence

import numpy as np

from ..lexicon import ENTITY_TYPES, tag_token

TAGSET = ["O"] + [p + t for t in ENTITY_TYPES for p in ("B-", "I-")]


class GazetteerTagger:
    """The deterministic shared tagger (parity anchor)."""

    def tag_sentence(self, tokens: Sequence[str]) -> list[str]:
        out, prev = [], None
        for tok in tokens:
            out.append(tag_token(tok, prev))
            prev = tok
        return out

    def tag_batch(self, batch: Sequence[Sequence[str]]) -> list[list[str]]:
        return [self.tag_sentence(toks) for toks in batch]


def _hashed_feature_emissions(batch_ids: np.ndarray, n_tags: int,
                              seed: int = 42) -> np.ndarray:
    """Deterministic [B, T, K] emissions from token-hash features — a
    linear 'model' whose weights are a seeded projection, standing in for
    the BiLSTM emission layer (models/models.py:162)."""
    rng = np.random.default_rng(seed)
    w = rng.standard_normal((64, n_tags)).astype(np.float32)
    feats = (batch_ids[..., None] >> np.arange(6)) & 1  # low bits
    base = np.zeros(batch_ids.shape + (64,), dtype=np.float32)
    idx = batch_ids % 64
    b_i, t_i = np.meshgrid(
        np.arange(batch_ids.shape[0]), np.arange(batch_ids.shape[1]),
        indexing="ij",
    )
    base[b_i, t_i, idx] = 1.0
    base[..., :6] += feats
    return base @ w


def viterbi_batch(emissions: np.ndarray, transitions: np.ndarray,
                  lengths: np.ndarray) -> list[list[int]]:
    """Batched first-order Viterbi decode (M2; pytorch-crf decode twin).

    emissions [B, T, K], transitions [K, K] (from->to), lengths [B].
    Pure numpy DP over the trellis; vectorized across the batch.
    """
    B, T, K = emissions.shape
    if T == 0:
        return [[] for _ in range(B)]
    score = emissions[:, 0, :].copy()          # [B, K]
    back = np.zeros((B, T, K), dtype=np.int32)
    for t in range(1, T):
        # [B, K_from, 1] + [K_from, K_to] -> best over K_from
        cand = score[:, :, None] + transitions[None, :, :]
        back[:, t, :] = np.argmax(cand, axis=1)
        best = np.max(cand, axis=1)
        step = best + emissions[:, t, :]
        alive = (t < lengths)[:, None]
        score = np.where(alive, step, score)
    paths: list[list[int]] = []
    for b in range(B):
        ln = int(lengths[b])
        if ln == 0:
            paths.append([])
            continue
        last = int(np.argmax(score[b]))
        seq = [last]
        for t in range(ln - 1, 0, -1):
            last = int(back[b, t, last])
            seq.append(last)
        paths.append(seq[::-1])
    return paths


class EmissionCRFTagger:
    """Shape-faithful neural stand-in: hashed emissions + real Viterbi.

    Deterministic given (seed); decode='crf' runs the batched Viterbi DP,
    decode='argmax' is the reference's fallback path (app.py:285-293).
    """

    def __init__(self, seed: int = 42, decode: str = "crf",
                 emissions_fn: Callable[[np.ndarray, int], np.ndarray] | None = None,
                 emissions_from_tokens: Callable[
                     [Sequence[Sequence[str]], int], np.ndarray] | None = None):
        """``emissions_fn`` consumes hashed token ids [B, T]; a model that
        needs the raw tokens (char encoders — core.neural's
        NumpyCombinatorialNER.emissions) plugs in via
        ``emissions_from_tokens`` instead."""
        self.seed = seed
        self.decode = decode
        self.n_tags = len(TAGSET)
        rng = np.random.default_rng(seed + 1)
        self.transitions = rng.standard_normal(
            (self.n_tags, self.n_tags)
        ).astype(np.float32)
        self.emissions_from_tokens = emissions_from_tokens
        self.emissions_fn = emissions_fn or (
            lambda ids, k: _hashed_feature_emissions(ids, k, seed)
        )

    @staticmethod
    def _token_ids(batch: Sequence[Sequence[str]], max_len: int) -> tuple:
        B = len(batch)
        ids = np.zeros((B, max_len), dtype=np.int64)
        lengths = np.zeros(B, dtype=np.int64)
        for i, toks in enumerate(batch):
            lengths[i] = min(len(toks), max_len)
            for j, tok in enumerate(toks[:max_len]):
                h = hashlib.md5(tok.lower().encode()).digest()
                ids[i, j] = int.from_bytes(h[:4], "big")
        return ids, lengths

    def tag_batch(self, batch: Sequence[Sequence[str]]) -> list[list[str]]:
        if not batch:
            return []
        max_len = max((len(b) for b in batch), default=1) or 1
        ids, lengths = self._token_ids(batch, max_len)
        if self.emissions_from_tokens is not None:
            em = self.emissions_from_tokens(batch, self.n_tags)
        else:
            em = self.emissions_fn(ids, self.n_tags)
        if self.decode == "crf":
            paths = viterbi_batch(em, self.transitions, lengths)
        else:  # argmax fallback (app.py:288)
            am = np.argmax(em, axis=2)
            paths = [list(am[i, : int(lengths[i])]) for i in range(len(batch))]
        return [[TAGSET[i] for i in p] for p in paths]

    def tag_sentence(self, tokens: Sequence[str]) -> list[str]:
        return self.tag_batch([tokens])[0]


def load_torch_tagger(checkpoint_path: str):
    """Real-weights path (S5/M1): requires torch, absent in this container.
    The working alternative is save/load_numpy_tagger below — a torch
    checkpoint converts offline into the same .npz weight archive."""
    try:
        import torch  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "torch is not installed in this environment; export the "
            "checkpoint's state_dict to .npz offline and use "
            "load_numpy_tagger(path), or install torch and load here"
        ) from e
    raise NotImplementedError("checkpoint loading: supply exported weights")


def save_numpy_checkpoint(weights: dict, path: str) -> None:
    """S5 sink twin: persist a NumpyCombinatorialNER weight dict as .npz
    (the export format a torch state_dict converts into offline)."""
    np.savez(path, **weights)


def load_numpy_tagger(checkpoint_path: str, seed: int = 42,
                      decode: str = "crf",
                      dataset: str = "jnlpba") -> "EmissionCRFTagger":
    """S5/M1 loader: .npz weight archive -> NumpyCombinatorialNER ->
    EmissionCRFTagger, ready for extract_mentions_arrow(tagger=...).
    Shapes are validated against the architecture on construction
    (unknown keys raise ValueError, not KeyError).

    A ``transitions`` array in the archive is the learned CRF transition
    matrix (the reference checkpoint's torchcrf layer, models/models.py:
    163) and is installed on the tagger; without it, decode falls back to
    the seeded transitions — emissions round-trip exactly either way."""
    from .neural import NumpyCombinatorialNER

    with np.load(checkpoint_path) as z:
        weights = {k: z[k] for k in z.files}
    transitions = weights.pop("transitions", None)
    model = NumpyCombinatorialNER(
        n_tags=len(TAGSET), seed=seed, weights=weights, dataset=dataset)
    tagger = EmissionCRFTagger(
        seed=seed, decode=decode, emissions_from_tokens=model.emissions)
    if transitions is not None:
        if transitions.shape != tagger.transitions.shape:
            raise ValueError(
                f"CRF transitions shape {transitions.shape} != "
                f"{tagger.transitions.shape}")
        tagger.transitions = transitions.astype(np.float32)
    return tagger
