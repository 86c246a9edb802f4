"""Fast-lane sample of the driver-hash contract: every eleventh
registered query (20 of 218, in registry order) runs through the same
check as the full ``slow`` sweep in test_driver_hash_contract.py, at
sf0.001. The stride is fixed, so a failure here reproduces on re-run
and names the query."""

from __future__ import annotations

import pytest

from tests import test_driver_hash_contract as contract

contract_env = contract.contract_env  # the sweep's module-scoped fixture

STRIDE = 11


@pytest.mark.parametrize("name", contract._names()[::STRIDE])
def test_driver_hash_contract_sample(contract_env, name):
    contract.test_driver_hash_contract(contract_env, name)
