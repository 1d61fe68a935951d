"""RolX role extraction oracle: NMF + quantization + MDL grid search.

Driver-side (numpy) counterpart of the reference RoleExtractor
(reference: graphrole/roles/extract.py:12-173). The Spark RoleExtractor
delegates to this module whenever the feature matrix fits on the driver
(feature count is always tens; entity count decides), and reuses its
grid/rescaling/argmin logic verbatim for the distributed path.
"""

from __future__ import annotations

from typing import Dict, Hashable, Optional, Tuple

import numpy as np
import pandas as pd

from graphrole_spark.oracle.mdl import description_length_costs
from graphrole_spark.oracle.nmf import nmf
from graphrole_spark.oracle.quantize import encode

FactorTuple = Tuple[np.ndarray, np.ndarray]


class RolxOracle:

    N_ROLE_RANGE = (2, 8)
    N_BIT_RANGE = (1, 8)

    def __init__(
        self,
        n_roles: Optional[int] = None,
        n_role_range: Optional[Tuple[int, int]] = None,
        n_bit_range: Optional[Tuple[int, int]] = None,
    ) -> None:
        self.n_roles = n_roles
        self.min_roles, self.max_roles = n_role_range or self.N_ROLE_RANGE
        self.min_bits, self.max_bits = n_bit_range or self.N_BIT_RANGE
        self.node_role_factor: Optional[pd.DataFrame] = None
        self.role_feature_factor: Optional[pd.DataFrame] = None

    # -- outputs -----------------------------------------------------------

    @property
    def roles(self) -> Optional[Dict[Hashable, str]]:
        if self.node_role_factor is None:
            return None
        return self.node_role_factor.idxmax(axis=1).to_dict()

    @property
    def role_percentage(self) -> Optional[pd.DataFrame]:
        if self.node_role_factor is None:
            return None
        g = self.node_role_factor
        return g.div(g.sum(axis=1), axis=0)

    def explain(self):
        raise NotImplementedError(
            'Role explanation ("sense making") is not yet implemented.'
        )

    # -- fitting -------------------------------------------------------------

    def extract_role_factors(self, features: pd.DataFrame) -> None:
        if self.n_roles:
            # total factor cells ≈ n_roles * (n + m): encode with ~log2 of
            # that many bits (reference heuristic, roles/extract.py:68-75)
            n_bits = int(np.log2(self.n_roles * min(features.shape)))
            G, F = self.encoded_factors(features.values, self.n_roles, n_bits)
        else:
            G, F = self.select_model(features)

        labels = [f"role_{i}" for i in range(G.shape[1])]
        self.node_role_factor = pd.DataFrame(G, index=features.index, columns=labels)
        self.role_feature_factor = pd.DataFrame(
            F, index=labels, columns=features.columns
        )

    def select_model(self, features: pd.DataFrame) -> FactorTuple:
        """MDL grid search over (n_roles, n_bits); first argmin wins."""
        enc_costs, err_costs, models = self.cost_grid(features.values)
        costs = self.rescale_costs(enc_costs) + self.rescale_costs(err_costs)
        best = np.nanmin(costs)
        r, b = np.argwhere(costs == best)[0]
        return models[(int(r), int(b))]

    def cost_grid(
        self, V: np.ndarray
    ) -> Tuple[np.ndarray, np.ndarray, Dict[Tuple[int, int], FactorTuple]]:
        """Encoding and error costs of every feasible (n_roles, n_bits) cell.

        The NMF is deterministic, so each role count is factorized once and
        that factor is encoded at every bit width. Cells whose bin count
        exceeds a factor's size stay nan and have no model.
        """
        max_bits_idx = self.max_bits + 1
        max_roles_idx = min(min(V.shape), self.max_roles) + 1

        enc_costs = np.full((max_roles_idx, max_bits_idx), np.nan)
        err_costs = np.full((max_roles_idx, max_bits_idx), np.nan)
        models: Dict[Tuple[int, int], FactorTuple] = {}

        for roles in range(self.min_roles, max_roles_idx):
            G, F = nmf(np.asarray(V, dtype=np.float64), roles)
            for bits in range(self.min_bits, max_bits_idx):
                try:
                    model = self.encode_factors(G, F, bits)
                    e_cost, r_cost = description_length_costs(V, model)
                except ValueError:
                    continue  # n_bins too large for the sample count
                enc_costs[roles, bits] = e_cost
                err_costs[roles, bits] = r_cost
                models[(roles, bits)] = model
        return enc_costs, err_costs, models

    @staticmethod
    def encoded_factors(V: np.ndarray, n_roles: int, n_bits: int) -> FactorTuple:
        G, F = nmf(np.asarray(V, dtype=np.float64), n_roles)
        return RolxOracle.encode_factors(G, F, n_bits)

    @staticmethod
    def encode_factors(G: np.ndarray, F: np.ndarray, n_bits: int) -> FactorTuple:
        """Quantize both NMF factors to ``2**n_bits`` levels."""
        n_bins = int(2**n_bits)
        return encode(G, n_bins), encode(F, n_bins)

    @staticmethod
    def rescale_costs(costs: np.ndarray) -> np.ndarray:
        """Row-normalize each fixed-n_roles cost row to unit L2 (nan-aware)."""
        with np.errstate(invalid="ignore", divide="ignore"):
            norms = np.sqrt(np.nansum(np.square(costs), axis=1, keepdims=True))
            return costs / norms
