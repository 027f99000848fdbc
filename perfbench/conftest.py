def pytest_configure(config):
    config.addinivalue_line("markers", "slow: runs the benchmark end to end")
