"""Vectorized functions: the pandas/Arrow UDFs of the fused fetch stage."""
